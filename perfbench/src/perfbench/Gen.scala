package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import jsonld.spark.Corpus

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, salt) through `xxhash64`, so the same seed gives the same
  * inputs at any parallelism. The program under test only ever sees the
  * parquet these functions write.
  */
object Gen {

  /** Uniform long hash of the seed, a salt and the given columns. */
  def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform integer in [0, m). */
  def below(seed: Long, salt: Int, m: Long, cs: Column*): Column = pmod(h(seed, salt, cs: _*), lit(m))

  /** The repo's sf0.001 `documents` and `embeddings` tables (500 rows
    * each), shipped with the benchmark so that it reads the same text and
    * vectors the program's own tests and query oracle use.
    */
  val DataDir = "perfbench/data"

  /** Filler words for the files that carry no JSON-LD: source-file
    * comments and the names in HTML islands.
    */
  private val Words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  private def words(seed: Long, salt: Int, id: Column, n: Column): Column =
    concat_ws(" ", transform(sequence(lit(1), n.cast("int")),
      i => pick(Words, below(seed, salt, Words.size.toLong, id, i))))

  /** `table` from `DataDir` with its ids 0 until n re-dealt by a seeded
    * permutation: rows, text and vectors are untouched, so each seed sees
    * the same data under other ids (another ANN query vector, other pair
    * orientations, other hot docs in the corpus).
    */
  private def shipped(spark: SparkSession, seed: Long, table: String, id: String): DataFrame = {
    val df = spark.read.parquet(s"$DataDir/$table.parquet")
    df.withColumn(id, (row_number().over(Window.orderBy(h(seed, 1, col(id)))) - 1).cast("long"))
      .select(df.columns.map(col): _*)
  }

  def documents(spark: SparkSession, seed: Long): DataFrame = shipped(spark, seed, "documents", "doc_id")

  /** The tables the analytics queries read, `documents` and `embeddings`,
    * written as `<dir>/<table>.parquet`.
    */
  def tables(spark: SparkSession, seed: Long, dir: String): Unit = {
    documents(spark, seed).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    shipped(spark, seed, "embeddings", "vec_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Repo-history corpus for the construct workload, written to
    * `<dir>/corpus` (the pipeline's `RepoFile` shape). Alongside it,
    * `<dir>/expect` lists, per file, the JSON-LD documents the file really
    * embeds — the reference side of the detect/transform checks, derived
    * from how each file was generated rather than from `Detect`.
    *
    * - `replicas` × the 500 shipped documents as distinct heavy docs
    *   (`Corpus.corpusHeavyFrom`, 47 quads each, doc ids renumbered per
    *   replica and seed), nDocs in all, each committed a Zipf-skewed
    *   number of times (mean ≈ 4, the hottest doc 1.6·nDocs^0.6 times):
    *   most emitted quads are duplicates and a few hot docs dominate their
    *   dedup partitions;
    * - `nDocs` non-JSON-LD files, all rejected by `Detect`: source files
    *   (one in five mentions `@context` in a comment) and
    *   `package.json`-style configs, which both pass the cheap filter;
    * - `nDocs / 20` HTML pages with 1–3 `application/ld+json` islands;
    * - 1% of docs also have a truncated commit, which quarantines.
    */
  def sharedCorpus(spark: SparkSession, seed: Long, replicas: Int, dir: String): Unit = {
    val idBase = Math.floorMod(seed, 1000L) * 1000000L
    val docs = documents(spark, seed)
    val perReplica = docs.count()
    val nDocs = replicas * perReplica
    val path = col("path")
    // the seed picks which docs are hot; the commit profile itself is fixed,
    // so every seed emits the same number of files and quads
    val profile = (1L to nDocs).map(r => math.max(1L, math.round(1.6 * math.pow(nDocs.toDouble / r, 0.6))))
    val replicated = spark.range(replicas).crossJoin(docs)
      .withColumn("doc_id", lit(idBase) + col("id") * perReplica + col("doc_id")).drop("id")
    val heavy = Corpus.corpusHeavyFrom(spark, replicated).toDF()
      .withColumn("rank", row_number().over(Window.orderBy(h(seed, 50, path))))
    val history = heavy
      .withColumn("k", explode(sequence(lit(1L), element_at(typedLit(profile), col("rank")))))
      .withColumn("commit", sha2(concat(lit("c:"), path, lit(":"), col("k").cast("string")), 256))
      .drop("k")
      .withColumn("docs", array(col("content")))
    val truncated = heavy.filter(col("rank") % 100 === 50)
      .withColumn("commit", sha2(concat(lit("trunc:"), path), 256))
      .withColumn("content", substring(col("content"), 1, 600))
      .withColumn("docs", array(col("content")))

    val id = col("id")
    val kind = id % 10
    val ext = pick(Seq("scala", "py", "java"), below(seed, 53, 3, id))
    val body = words(seed, 54, id, lit(40) + below(seed, 55, 160, id))
    val other = spark.range(nDocs).select(
      concat(lit("org"), (id % 100).cast("string")).as("repo"),
      when(kind === 0, concat(lit("pkg"), id.cast("string"), lit("/package.json")))
        .otherwise(concat(lit("src/f"), id.cast("string"), lit("."), ext)).as("path"),
      sha2(concat(lit("src:"), id.cast("string")), 256).as("commit"),
      when(kind === 0, lit("json")).otherwise(ext).as("lang"),
      when(kind === 0, format_string("{\"name\": \"pkg%d\", \"version\": \"1.0.%d\"}", id,
          below(seed, 56, 50, id)))
        .when(kind <= 2, concat(lit("// schema: see @context in docs\nobject F"), id.cast("string"),
          lit(" {\n  // "), body, lit("\n}\n")))
        .otherwise(concat(lit("object F"), id.cast("string"), lit(" {\n  // "), body, lit("\n}\n")))
        .as("content"),
      array().cast("array<string>").as("docs"))

    val island = (page: Column, j: Column) => to_json(struct(
      struct(lit(Corpus.Vocab).as("@vocab")).as("@context"),
      concat(lit("http://graft.example/page/"), page.cast("string"), lit("/"), j.cast("string")).as("@id"),
      lit("WebPage").as("@type"),
      words(seed, 57, page * 4 + j, lit(3) + below(seed, 58, 6, page, j)).as("name"),
      j.as("position")))
    val pages = spark.range(math.max(1L, nDocs / 20)).select(id,
      transform(sequence(lit(1L), lit(1L) + id % 3), j => island(id, j)).as("docs"))
    val html = pages.select(
      concat(lit("site"), (id % 10).cast("string")).as("repo"),
      concat(lit("www/p"), id.cast("string"), lit(".html")).as("path"),
      sha2(concat(lit("html:"), id.cast("string")), 256).as("commit"),
      lit("html").as("lang"),
      concat(lit("<html><head><title>p"), id.cast("string"), lit("</title>"),
        concat_ws("\n", transform(col("docs"),
          d => concat(lit("<script type=\"application/ld+json\">"), d, lit("</script>")))),
        lit("</head><body>"), words(seed, 60, id, lit(30)), lit("</body></html>")).as("content"),
      col("docs"))

    val files = Seq(truncated, other, html).map(_.drop("rank")).foldLeft(history.drop("rank"))(_.unionByName(_))
      // interleave histories deterministically, as a repo-order scan would
      .orderBy(h(seed, 61, path, col("commit")))
    files.drop("docs").write.mode("overwrite").parquet(s"$dir/corpus")
    files.select(col("repo"), path, col("docs")).write.mode("overwrite").parquet(s"$dir/expect")
  }

  /** GraphScale's ring ±1/±2 plus a seeded `(m·i + a) mod n` chord, as an
    * edge table (`<dir>/edges`) and as quads with one predicate per edge
    * family plus `owl:sameAs` alias links on about 1% of nodes
    * (`<dir>/quads`). Returns the chord.
    */
  def graph(spark: SparkSession, seed: Long, n: Long, dir: String): GraphSpec = {
    val r = new scala.util.Random(seed)
    val spec = GraphSpec(n, m = 3 + r.nextInt(20), a = 1 + r.nextInt(97))
    val ids = spark.range(n).select(col("id"))
    def family(p: String, mult: Long, add: Long) = ids.select(col("id").as("src"),
      ((col("id") * mult + add) % n).as("dst"), lit(p).as("family"))
    val edges = family("next", 1, 1).union(family("skip", 1, 2)).union(family("chord", spec.m, spec.a))
    edges.select("src", "dst").write.mode("overwrite").parquet(s"$dir/edges")
    val node = (c: Column) => concat(lit(GraphSpec.NodeNs), c.cast("string"))
    val aliased = below(seed, 70, 100, col("id")) === 0
    val sameAs = ids.filter(aliased).select(
      concat(lit(GraphSpec.AliasNs), col("id").cast("string")).as("subj"),
      lit(GraphSpec.SameAs).as("pred"), node(col("id")).as("obj"), lit("").as("dt"))
    val literals = ids.select(node(col("id")).as("subj"), lit(GraphSpec.Vocab + "label").as("pred"),
      concat(lit("n"), col("id").cast("string")).as("obj"), lit(GraphSpec.XsdString).as("dt"))
    edges.select(node(col("src")).as("subj"), concat(lit(GraphSpec.Vocab), col("family")).as("pred"),
        node(col("dst")).as("obj"), lit("").as("dt"))
      .union(sameAs).union(literals)
      .write.mode("overwrite").parquet(s"$dir/quads")
    spec
  }
}

final case class GraphSpec(n: Long, m: Long, a: Long)

object GraphSpec {
  val NodeNs = "urn:g:n"
  val AliasNs = "urn:g:a"
  val Vocab = "urn:g:v#"
  val SameAs = "http://www.w3.org/2002/07/owl#sameAs"
  val XsdString = "http://www.w3.org/2001/XMLSchema#string"
}
