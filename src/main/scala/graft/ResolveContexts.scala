package graft

import org.apache.spark.sql.SparkSession
import jsonld.spark._

/** The driver pre-pass CLI: harvest remote @context URLs from a corpus
  * (distributed), resolve them to a closed cache with a pluggable loader
  * (driver-side), and write the cache + failure report. The cache file is
  * what a production run broadcasts; documents referencing a failed URL
  * quarantine at transform time instead of killing the job.
  *
  * Usage: runMain graft.ResolveContexts <sfDir> <outDir> [urlMapTsv|--http]
  *   urlMapTsv: optional "url<TAB>localPath" lines — the zero-egress
  *   stand-in for an HTTP fetch (vendored context sets work the same way
  *   in production).
  *   --http: resolve over real HTTP with the RFC 7234 caching loader
  *   (jsonld.core.CachingHttpDocumentLoader) — for deployments with
  *   egress; never the default (this sandbox has none).
  */
object ResolveContexts {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val useHttp = args.lift(2).contains("--http")
    val mapping: Map[String, String] = args.lift(2) match {
      case Some(tsv) if !useHttp =>
        scala.io.Source.fromFile(tsv).getLines().filter(_.contains("\t")).map { l =>
          val Array(u, p) = l.split("\t", 2); (u, p)
        }.toMap
      case _ => Map.empty
    }
    val spark = SparkSession.builder()
      .master(s"local[${Bench.cpus}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // input: a raw RepoFile corpus (corpus.parquet) when present, else the
    // synthetic sf corpus
    import spark.implicits._
    val corpusParquet = new java.io.File(s"$sfDir/corpus.parquet")
    val corpus =
      if (corpusParquet.exists) spark.read.parquet(corpusParquet.toString).as[RepoFile]
      else Corpus.corpusFlat(spark, sfDir)
    val counters = Pipeline.newCounters(spark)
    val docs = Pipeline.detectStage(corpus, counters)
    val loader: jsonld.core.DocumentLoader =
      if (useHttp) new jsonld.core.CachingHttpDocumentLoader()
      else new FileDocumentLoader(mapping.get)
    val (cache, failed) = ContextResolver.buildCache(spark, docs, loader)

    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    def jmap(m: Map[String, String]) =
      m.toSeq.sorted.map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
        .mkString("{", ", ", "}")
    java.nio.file.Files.writeString(out.resolve("context_cache.json"), jmap(cache.value))
    java.nio.file.Files.writeString(out.resolve("context_failures.json"), jmap(failed))
    println(s"""{"resolved":${cache.value.size},"failed":${failed.size},"out":"$outDir"}""")
    spark.stop()
  }
}
