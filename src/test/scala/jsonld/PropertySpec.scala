package jsonld

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import jsonld.core._
import jsonld.core.Rdf._

/** Property-based invariants of the algorithm core (SURVEY.md §5.2.4):
  * - expansion is idempotent on expanded output
  * - canonicalization is invariant under blank-node relabeling and quad
  *   shuffling
  * - N-Quads serialize∘parse is the identity on datasets
  * - N-Quads escaping agrees with a char-by-char reference
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sampling loop (no scalatestplus bridge in the offline
    * cache): evaluates `body` over `n` seeded samples of `gen`.
    */
  private def forSamples[T](gen: Gen[T], n: Int = 200)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(body)
    }

  private val opts = JsonLdOptions()

  private val genIri: Gen[String] = for {
    host <- Gen.oneOf("ex.org", "example.com", "w3.org")
    path <- Gen.listOfN(2, Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(6))).map(_.mkString("/"))
  } yield s"http://$host/$path"

  private val genLiteral: Gen[RLiteral] = for {
    v <- Gen.alphaNumStr.map(_.take(20))
    kind <- Gen.choose(0, 2)
  } yield kind match {
    case 0 => RLiteral(v, XsdString, "")
    case 1 => RLiteral(v, XsdInteger, "")
    case _ => RLiteral(v, RdfLangString, "en")
  }

  private val genBnode: Gen[RBlank] = Gen.choose(0, 5).map(i => RBlank(s"_:b$i"))

  private val genQuad: Gen[Quad] = for {
    s <- Gen.oneOf(genIri.map(RIri(_): RdfNode), genBnode.map(x => x: RdfNode))
    p <- genIri.map(RIri(_))
    o <- Gen.oneOf(genIri.map(RIri(_): RdfNode), genBnode.map(x => x: RdfNode),
      genLiteral.map(x => x: RdfNode))
  } yield Quad(s, p, o, null)

  private val genDataset: Gen[Seq[Quad]] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, genQuad)).map(_.distinct)

  private def mkDataset(quads: Seq[Quad]): RdfDataset = {
    val ds = new RdfDataset
    ds.addQuads("@default", quads)
    ds
  }

  test("expand is idempotent on expanded output") {
    val docs = Seq(
      """{"@context":{"@vocab":"http://v/"},"@id":"http://e/1","a":"x","b":{"c":1}}""",
      """{"@context":{"t":{"@id":"http://v/t","@container":"@list"}},"t":["a","b"]}""",
      """{"@graph":[{"@id":"http://e/2","http://v/p":[{"@value":3.5}]}]}""")
    docs.foreach { d =>
      val once = Processor.expand(Json.parse(d), opts)
      val twice = Processor.expand(Json.deepClone(once), opts)
      assert(Json.deepCompare(once, twice), s"not idempotent for $d")
    }
  }

  test("canonicalization invariant under bnode relabeling and shuffling") {
    var checked = 0
    forSamples(genDataset) { quads =>
      if (quads.nonEmpty) {
        checked += 1
        val base = new Canonicalizer("URDNA2015").canonicalize(mkDataset(quads))
        // relabel _:bN -> _:xN+k and shuffle deterministically
        val k = checked % 7
        def relabel(n: RdfNode): RdfNode = n match {
          case RBlank(v) => RBlank("_:x" + (v.substring(3).toInt + k))
          case other => other
        }
        val rnd = new scala.util.Random(checked)
        val shuffled = rnd.shuffle(quads.map(q =>
          Quad(relabel(q.subject), q.predicate, relabel(q.obj), q.graph)))
        val relab = new Canonicalizer("URDNA2015").canonicalize(mkDataset(shuffled))
        assert(base == relab)
      }
    }
    assert(checked > 100)
  }

  test("N-Quads serialize then parse is identity") {
    forSamples(genDataset) { quads =>
      if (quads.nonEmpty) {
        val ds = mkDataset(quads)
        val text = datasetToNQuads(ds)
        val parsed = parseNQuads(text)
        val a = ds.allQuads.map { case (g, q) => toNQuad(q, if (g == "@default") "" else g) }.sorted
        val b = parsed.allQuads.map { case (g, q) => toNQuad(q, if (g == "@default") "" else g) }.sorted
        assert(a == b)
      }
    }
  }

  test("escape matches a char-by-char reference and parseNQuads round-trips it") {
    def reference(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    }
    // each escapable character at the start, middle and end, alone, and mixed
    val inputs = Seq('\\', '"', '\n', '\r', '\t').flatMap { c =>
      Seq(s"${c}ab", s"a${c}b", s"ab$c", c.toString)
    } ++ Seq("x\\y\"z\nw\rv\tu", "\t\"\\\r\n", "plain", "")
    inputs.foreach { s =>
      assert(escape(s) == reference(s), s"escape(${reference(s)})")
      val lit = RLiteral(s, XsdString, "")
      val line = toNQuad(Quad(RIri("http://ex.org/s"), RIri("http://ex.org/p"), lit, null), "")
      assert(parseNQuads(line).allQuads.map(_._2.obj) == Seq(lit), line)
    }
  }

  test("toRDF then fromRDF round-trips simple node graphs") {
    val doc = """[{"@id":"http://e/1","http://v/p":[{"@value":"a"}],
      "http://v/q":[{"@id":"http://e/2"}]},
      {"@id":"http://e/2","http://v/p":[{"@value":"b"}]}]"""
    val ds = Processor.toRdf(Json.parse(doc), opts)
    val back = Processor.fromRdf(ds, opts)
    val reExpanded = Processor.expand(back, opts)
    val again = Processor.toRdf(reExpanded, opts)
    assert(datasetToNQuads(ds).split("\n").sorted.toSeq ==
      datasetToNQuads(again).split("\n").sorted.toSeq)
  }
}
