package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable
import jsonld.core._
import jsonld.core.Rdf._
import jsonld.spark.QuadRow

/** Order-independent digest of a bag of rows: count plus the wrapping sum
  * of each row's first eight SHA-256 bytes.
  */
final case class Digest(count: Long, sum: Long) {
  def +(row: Seq[Any]): Digest = Digest(count + 1, sum + Digest.h64(row.mkString("\u0001")))
  override def toString: String = f"$count:$sum%016x"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)
  private val md = ThreadLocal.withInitial(() => MessageDigest.getInstance("SHA-256"))
  def h64(s: String): Long = ByteBuffer.wrap(md.get().digest(s.getBytes(UTF_8))).getLong
  def of(rows: Iterable[Seq[Any]]): Digest = rows.foldLeft(empty)(_ + _)
}

/** Single-threaded, Spark-free references the benchmark checks the
  * program's outputs against.
  */
object Reference {

  /** One document through `jsonld.core` exactly as the pipeline's
    * transform stage calls it: the quads as wire rows, or the error code
    * the document is quarantined under.
    */
  def core(base: String, json: String): Either[String, Seq[Seq[Any]]] =
    try {
      val opts = JsonLdOptions(base = base, documentLoader = new MapDocumentLoader(Map.empty))
      val parsed =
        try Json.parse(json)
        catch { case e: Exception => throw JsonLdError(JsonLdError.InvalidInput, String.valueOf(e.getMessage)) }
      val dataset = ToRdf.toRdf(Processor.expand(parsed, opts), opts)
      Right(new Canonicalizer("URDNA2015", 100000L).canonicalQuads(dataset).map { case (g, q) =>
        val (obj, kind, dt, lang) = q.obj match {
          case RIri(v) => (v, QuadRow.KindIri, "", "")
          case RBlank(v) => (v, QuadRow.KindBlank, "", "")
          case RLiteral(v, d, l) => (v, QuadRow.KindLiteral, d, l)
        }
        Seq(q.subject.value, q.predicate.value, obj, kind, dt, lang, if (g == "@default") "" else g)
      })
    } catch {
      case e: JsonLdError => Left(e.code)
      case _: Exception => Left("crash")
    }

  final case class Construct(detected: Long, quadsEmitted: Long, written: Digest,
                             quarantine: Map[String, Long])

  /** The construct workload's expected outcome from the documents each
    * file really embeds: `docs` holds (base IRI, document, occurrences).
    */
  def construct(docs: Seq[(String, String, Long)]): Construct = {
    val quads = mutable.HashSet.empty[Seq[Any]]
    val quarantine = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var emitted = 0L
    docs.foreach { case (base, json, n) =>
      core(base, json) match {
        case Right(qs) => quads ++= qs; emitted += qs.size * n
        case Left(code) => quarantine(code) += n
      }
    }
    Construct(docs.map(_._3).sum, emitted, Digest.of(quads), quarantine.toMap)
  }

  /** `GraphOps.pageRank` semantics, including its 10⁻¹² quantization. */
  def pageRank(edges0: Seq[(Long, Long)], iterations: Int, damping: Double = 0.85): Map[Long, Double] = {
    val Q = 1e12
    val edges = edges0.distinct
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var ranks = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val dm = nodes.filterNot(deg.contains).map(v => math.floor(ranks(v) * Q).toLong).sum / Q
      val q = deg.map { case (s, d) => s -> math.floor(ranks(s) / d * Q).toLong }
      val qs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d) => qs(d) += q(s) }
      ranks = nodes.map(v => v -> ((1 - damping) / n + damping * (qs(v) / Q + dm / n))).toMap
    }
    ranks
  }

  /** `GraphOps.triangleCount`: per-node triangles of the undirected simple graph. */
  def triangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter { case (a, b) => a != b }.map { case (a, b) => (a min b, a max b) }.distinct
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val count = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    und.foreach { case (a, b) =>
      adj(a).foreach { c =>
        if (c > b && adj(b).contains(c)) Seq(a, b, c).foreach(v => count(v) += 1)
      }
    }
    adj.keys.map(v => v -> count(v)).toMap
  }

  /** Bag digest of the chain `?a p1 ?b . ?b p2 ?c . ?c p3 ?d`, rows (a, b, c, d). */
  def chain(quads: Seq[(String, String, String, String)], p1: String, p2: String, p3: String): Digest = {
    def index(p: String) = quads.filter(_._2 == p).groupBy(_._1).map { case (s, qs) => s -> qs.map(_._3) }
    val (i2, i3) = (index(p2), index(p3))
    Digest.of(for {
      (a, _, b, _) <- quads.filter(_._2 == p1)
      c <- i2.getOrElse(b, Nil)
      d <- i3.getOrElse(c, Nil)
    } yield Seq(a, b, c, d))
  }

  /** `GraphOps.resolveSameAs`: aliases fold to the lexicographically
    * smallest IRI of their sameAs component, subjects and IRI objects are
    * rewritten, sameAs triples are dropped, and the result is a set.
    */
  def sameAs(quads: Seq[(String, String, String, String)], sameAsPred: String): Digest = {
    val parent = mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    quads.filter(q => q._2 == sameAsPred && q._4 == "").foreach { case (a, _, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    def canon(x: String) = if (parent.contains(x)) find(x) else x
    Digest.of(quads.filter(_._2 != sameAsPred).map { case (s, p, o, dt) =>
      Seq(canon(s), p, if (dt == "") canon(o) else o, dt)
    }.distinct)
  }
}
