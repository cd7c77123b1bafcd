package jsonld.core

import scala.collection.mutable

/** RDF node / quad model and N-Quads serialization (RDF 1.1 N-Quads).
  * A node is a 3-variant sum; equality is full field equality (that is what
  * quad dedup requires). All literal values stay lexical strings —
  * canonical XSD forms are produced at conversion time and must never be
  * coerced (cf. SURVEY.md §1.2).
  */
object Rdf {
  val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val XsdNs = "http://www.w3.org/2001/XMLSchema#"

  val RdfType: String = RdfNs + "type"
  val RdfFirst: String = RdfNs + "first"
  val RdfRest: String = RdfNs + "rest"
  val RdfNil: String = RdfNs + "nil"
  val RdfLangString: String = RdfNs + "langString"
  val RdfJson: String = RdfNs + "JSON"
  val RdfList: String = RdfNs + "List"
  val RdfDirection: String = RdfNs + "direction"
  val RdfLanguage: String = RdfNs + "language"
  val RdfValue: String = RdfNs + "value"

  val XsdBoolean: String = XsdNs + "boolean"
  val XsdInteger: String = XsdNs + "integer"
  val XsdDouble: String = XsdNs + "double"
  val XsdFloat: String = XsdNs + "float"
  val XsdDecimal: String = XsdNs + "decimal"
  val XsdString: String = XsdNs + "string"

  sealed trait RdfNode extends Serializable {
    def value: String
    def isIri: Boolean = isInstanceOf[RIri]
    def isBlank: Boolean = isInstanceOf[RBlank]
    def isLiteral: Boolean = isInstanceOf[RLiteral]
  }
  final case class RIri(value: String) extends RdfNode
  final case class RBlank(value: String) extends RdfNode
  final case class RLiteral(value: String, datatype: String, language: String) extends RdfNode
  object RLiteral {
    def apply(value: String, datatype: String, language: String): RLiteral =
      new RLiteral(value, if (datatype == null || datatype.isEmpty) XsdString else datatype,
        if (language == null) "" else language)
  }

  /** graph == null means the default graph. */
  final case class Quad(subject: RdfNode, predicate: RdfNode, obj: RdfNode, graph: RdfNode)

  /** graph name → quads, with "@default" for the default graph. */
  final class RdfDataset extends Serializable {
    val graphs: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Quad]] =
      mutable.LinkedHashMap("@default" -> mutable.ArrayBuffer.empty[Quad])

    /** Quads rejected by well-formedness validation during toRDF — counted
      * so data loss is observable (pipelines surface it as a metric rather
      * than dropping triples silently).
      */
    var droppedQuads: Long = 0L

    /** Quads excluded by the JSON-LD→RDF spec itself (relative IRIs in
      * subject/predicate/object/graph position are not emitted) — a
      * separate counter from [[droppedQuads]] because these are mandated
      * exclusions, not validity filtering; pipelines surface both.
      */
    var skippedRelative: Long = 0L

    /** Quads excluded because the predicate is a blank node and
      * `produceGeneralizedRdf` is off — a generalized-RDF exclusion, its
      * own counter so loss metrics attribute the actual cause instead of
      * over-counting relative-IRI skips.
      */
    var skippedGeneralized: Long = 0L

    /** prefix → namespace IRI, populated by toRDF under `useNamespaces`
      * (consumed by prefix-printing serializers).
      */
    val namespaces: mutable.LinkedHashMap[String, String] =
      mutable.LinkedHashMap.empty[String, String]

    def addQuads(graphName: String, quads: Iterable[Quad]): Unit =
      graphs.getOrElseUpdate(graphName, mutable.ArrayBuffer.empty) ++= quads

    def allQuads: Seq[(String, Quad)] =
      graphs.toSeq.flatMap { case (g, qs) => qs.map(g -> _) }

    def graphNames: Seq[String] = graphs.keys.toSeq
  }

  // --------------------------------------------------------- serialization

  def escape(str: String): String = {
    val sb = new StringBuilder(str.length + 8)
    appendEscaped(sb, str)
    sb.toString
  }

  /** [[escape]] fused into the caller's builder. Fast path first: almost
    * every IRI / literal on the pipeline hot path contains none of the
    * five escapable characters, so scan for one and, if absent, append
    * the original string in ONE bulk copy instead of char-by-char through
    * a second builder (toNQuad runs 3–4 escapes per quad × every quad of
    * every document — the intermediate String per term was measured as
    * the dominant c14n allocation on zero-bnode documents).
    */
  private def appendEscaped(sb: StringBuilder, str: String): Unit = {
    val n = str.length
    var i = 0
    while (i < n && !needsEscape(str.charAt(i))) i += 1
    if (i == n) { sb.append(str); return }
    if (i > 0) sb.append(str.substring(0, i)) // rare path: something to escape
    while (i < n) {
      val c = str.charAt(i)
      if (needsEscape(c)) sb.append('\\').append(c match {
        case '\n' => 'n'
        case '\r' => 'r'
        case '\t' => 't'
        case other => other // backslash and quote escape as themselves
      })
      else sb.append(c)
      i += 1
    }
  }

  /** The five characters N-Quads output escapes. */
  private def needsEscape(c: Char): Boolean =
    c == '\\' || c == '"' || c == '\n' || c == '\r' || c == '\t'

  /** One N-Quads line (with trailing " .\n"). graphName "" = default graph. */
  def toNQuad(q: Quad, graphName: String): String = {
    val sb = new StringBuilder(128)
    q.subject match {
      case RIri(v) => sb.append('<'); appendEscaped(sb, v); sb.append('>')
      case n => sb.append(n.value)
    }
    q.predicate match {
      case RIri(v) => sb.append(" <"); appendEscaped(sb, v); sb.append("> ")
      case n => sb.append(' '); appendEscaped(sb, n.value); sb.append(' ')
    }
    q.obj match {
      case RIri(v) => sb.append('<'); appendEscaped(sb, v); sb.append('>')
      case RBlank(v) => sb.append(v)
      case RLiteral(v, dt, lang) =>
        sb.append('"'); appendEscaped(sb, v); sb.append('"')
        if (dt == RdfLangString) sb.append('@').append(lang)
        else if (dt != XsdString) { sb.append("^^<"); appendEscaped(sb, dt); sb.append('>') }
    }
    if (graphName != null && graphName.nonEmpty && graphName != "@default") {
      if (graphName.startsWith("_:")) sb.append(' ').append(graphName)
      else { sb.append(" <"); appendEscaped(sb, graphName); sb.append('>') }
    }
    sb.append(" .\n")
    sb.toString
  }

  def datasetToNQuads(ds: RdfDataset): String = {
    val sb = new StringBuilder
    ds.graphs.foreach { case (graphName, quads) =>
      val g = if (graphName == "@default") "" else graphName
      quads.foreach(q => sb.append(toNQuad(q, g)))
    }
    sb.toString
  }

  // ------------------------------------------------------- canonical forms

  private val canonicalDoubleRe = "(\\d)0*E\\+?(-)?0*(\\d)".r

  /** Canonical xsd:double lexical form, byte-compatible with printf
    * `%1.15E` + exponent cleanup (e.g. 1.1E1, 5.0E-1, 0.0E0).
    */
  def canonicalDouble(v: Double): String = {
    val s = String.format(java.util.Locale.ROOT, "%1.15E", java.lang.Double.valueOf(v))
    canonicalDoubleRe.replaceAllIn(s, m => {
      val sign = if (m.group(2) != null) m.group(2) else ""
      m.group(1) + "E" + sign + m.group(3)
    })
  }

  // ------------------------------------------------------------ validation

  private val validLanguageRe = "^[a-zA-Z]+(-[a-zA-Z0-9]+)*$".r

  /** Plausibility check for http(s) IRIs, mirroring the behavior the W3C
    * toRdf suite expects (quads with junk http IRIs are dropped).
    *
    * PERF: the check costs a `java.net.URI` parse, and [[quadValid]] runs
    * it on every http(s) node of every quad — including the xsd datatype
    * IRI of every literal — so on the pipeline hot path the SAME strings
    * (vocabulary predicates, datatypes, each doc's subject) are parsed
    * thousands of times. Memoized per thread (task threads are reused
    * executor-side); pure function, bounded map, cleared when full.
    */
  private val validIriCache = new ThreadLocal[java.util.HashMap[String, java.lang.Boolean]] {
    override def initialValue() = new java.util.HashMap[String, java.lang.Boolean](256)
  }

  def validIri(v: String): Boolean = {
    if (!(v.startsWith("http://") || v.startsWith("https://"))) return true
    val cache = validIriCache.get()
    val hit = cache.get(v)
    if (hit != null) return hit.booleanValue
    val r = computeValidIri(v)
    if (cache.size >= 16384) cache.clear() // bound per-thread footprint
    cache.put(v, java.lang.Boolean.valueOf(r))
    r
  }

  private def computeValidIri(v: String): Boolean = {
    // no upper length cap: 2083 is a legacy browser URL limit, not IRI
    // well-formedness — long IRIs are valid and must not lose triples
    if (v.length < 10) return false
    try {
      val u = new java.net.URI(v.replace(" ", "%20"))
      val host = u.getHost
      if (host == null || host.isEmpty || host.startsWith(".") || host.endsWith("-")) return false
      if (v.contains(" ")) return false
      true
    } catch { case _: Exception => false }
  }

  def quadValid(q: Quad): Boolean = {
    def nodeOk(n: RdfNode): Boolean = n match {
      case null => true
      case RIri(v) => validIri(v)
      case RLiteral(_, dt, lang) =>
        (lang == null || lang.isEmpty || validLanguageRe.matches(lang)) &&
          (dt == null || dt.isEmpty || validIri(dt))
      case _ => true
    }
    nodeOk(q.subject) && nodeOk(q.predicate) && nodeOk(q.obj) && nodeOk(q.graph)
  }

  // --------------------------------------------------------------- parsing

  // RDF 1.1 N-Quads grammar, regex-based line parser.
  private val IriPat = "<([^<>\\s]*)>"
  private val BnodePat = "(_:[^\\s]+)"
  private val LiteralPat = "\"((?:[^\"\\\\]|\\\\.)*)\"(?:@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*)|\\^\\^<([^<>\\s]*)>)?"
  private val lineRe =
    (s"^\\s*(?:$IriPat|$BnodePat)\\s+(?:$IriPat|$BnodePat)\\s+(?:$IriPat|$BnodePat|$LiteralPat)" +
      s"\\s*(?:(?:$IriPat|$BnodePat)\\s*)?\\.\\s*(?:#.*)?$$").r
  private val emptyRe = "^\\s*(#.*)?$".r

  /** Parse `len` hex digits at `from`, raising a JSON-LD syntax error (not
    * an index/number crash) on truncated or non-hex escapes.
    */
  private def hexEscape(s: String, from: Int, len: Int): Int = {
    if (from + len > s.length)
      throw JsonLdError(JsonLdError.SyntaxError, s"truncated \\u escape in N-Quads literal: $s")
    val cp =
      try Integer.parseInt(s.substring(from, from + len), 16)
      catch { case _: NumberFormatException =>
        throw JsonLdError(JsonLdError.SyntaxError, s"invalid hex in \\u escape: ${s.substring(from, from + len)}")
      }
    if (len == 8 && !Character.isValidCodePoint(cp))
      throw JsonLdError(JsonLdError.SyntaxError, s"invalid code point in \\U escape: $cp")
    cp
  }

  def unescape(s: String): String = {
    if (!s.contains('\\')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '"' => sb.append('"'); i += 2
          case '\'' => sb.append('\''); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' =>
            sb.append(hexEscape(s, i + 2, 4).toChar); i += 6
          case 'U' =>
            sb.appendAll(Character.toChars(hexEscape(s, i + 2, 8))); i += 10
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse ONE N-Quads line: `None` for blank/comment-empty lines,
    * `Some((graphName, quad))` otherwise (`graphName` is `"@default"`
    * for triples). Raises the spec syntax error on a malformed line.
    * The per-line factoring is what lets the Spark layer parse corpus
    * files line-parallel inside `mapPartitions`.
    */
  def parseNQuadLine(line: String, lineNo: Int): Option[(String, Quad)] = {
    if (emptyRe.matches(line)) return None
    lineRe.findFirstMatchIn(line) match {
      case Some(m) =>
        val subject: RdfNode =
          if (m.group(1) != null) RIri(unescape(m.group(1))) else RBlank(m.group(2))
        val predicate: RdfNode =
          if (m.group(3) != null) RIri(unescape(m.group(3))) else RBlank(m.group(4))
        val obj: RdfNode =
          if (m.group(5) != null) RIri(unescape(m.group(5)))
          else if (m.group(6) != null) RBlank(m.group(6))
          else {
            val value = unescape(m.group(7))
            val lang = m.group(8)
            val dt = if (m.group(9) != null) unescape(m.group(9))
                     else if (lang != null) RdfLangString
                     else XsdString
            RLiteral(value, dt, if (lang == null) "" else lang)
          }
        val graphName =
          if (m.group(10) != null) unescape(m.group(10))
          else if (m.group(11) != null) m.group(11)
          else "@default"
        val graphNode: RdfNode =
          if (graphName == "@default") null
          else if (graphName.startsWith("_:")) RBlank(graphName)
          else RIri(graphName)
        Some((graphName, Quad(subject, predicate, obj, graphNode)))
      case None =>
        throw JsonLdError(JsonLdError.SyntaxError, s"error while parsing N-Quads; invalid quad. line: $lineNo")
    }
  }

  /** Parse an N-Quads document into a dataset, deduplicating quads within
    * each graph (set semantics, as the RDF data model requires).
    */
  def parseNQuads(input: String): RdfDataset = {
    val ds = new RdfDataset
    val seen = mutable.HashMap.empty[String, mutable.HashSet[Quad]]
    var lineNo = 0
    input.split("\n", -1).foreach { line =>
      lineNo += 1
      parseNQuadLine(line, lineNo).foreach { case (graphName, q) =>
        val set = seen.getOrElseUpdate(graphName, mutable.HashSet.empty)
        if (set.add(q)) ds.addQuads(graphName, Seq(q))
      }
    }
    ds
  }
}
