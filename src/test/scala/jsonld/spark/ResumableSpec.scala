package jsonld.spark

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{SparkSession, Encoders}
import java.nio.file.{Files, Paths}

/** Checkpoint/resume: a second driver run over the same work dir must skip
  * all completed stages and still return the same graph.
  */
class ResumableSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("runResumable checkpoints every stage and resumes without recompute") {
    val work = Files.createTempDirectory("graft-resume").toString
    val docs = (0 until 30).map { i =>
      RepoFile(s"org$i", s"doc$i.jsonld", "c0", "jsonld",
        s"""{"@id": "http://ex.org/doc/$i", "http://ex.org/p": "v$i", "http://ex.org/q": $i}""")
    }
    // cross-document duplicates: mirrored copies of ten docs under other
    // repos/paths emit quads the corpus-level dedup must drop
    val mirrors = docs.take(10).map(d => d.copy(repo = s"mirror-${d.repo}", path = s"copy-${d.path}"))
    val corpus = spark.createDataset(docs ++ mirrors)(Encoders.product[RepoFile])
    val ctx = spark.sparkContext.broadcast(Map.empty[String, String])
    val counters = Pipeline.newCounters(spark)
    val reference = Pipeline.dedupQuads(Pipeline.quads(Pipeline.transformStage(
      Pipeline.detectStage(corpus, counters), ctx, counters))).collect().toSet

    val first = Pipeline.runResumable(spark, corpus, work, ctx, buckets = 8)
    assert(first.columns.toSeq ==
      Seq("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph"))
    val n1 = first.count()
    assert(n1 == 60) // two quads per distinct doc
    val emitted = Pipeline.quads(spark.read.parquet(s"$work/stage2_transformed")
      .as[Pipeline.PipeRow](Encoders.product[Pipeline.PipeRow])).count()
    assert(emitted == 80, "fixture must carry duplicates for the dedup to drop")
    assert(first.collect().toSet == reference)
    Seq("stage1_detected", "stage2_transformed", "quarantine", "lineage", "graph")
      .foreach { s => assert(CorpusIO.stageDone(spark, s"$work/$s"), s"missing marker for $s") }
    assert(!Files.exists(Paths.get(work, "stage3_quads")), "graph must be written by the fused path")

    // resume with an EMPTY corpus: if stages were recomputed the result
    // would be empty; the checkpointed outputs must win
    val emptyCorpus = spark.createDataset(Seq.empty[RepoFile])(Encoders.product[RepoFile])
    val second = Pipeline.runResumable(spark, emptyCorpus, work, ctx, buckets = 8)
    assert(second.count() == n1)
    assert(second.collect().toSet == reference)

    // the materialized graph is partitioned by predicate bucket
    val graph = spark.read.parquet(s"$work/graph")
    assert(graph.count() == n1)
    assert(graph.columns.contains("predBucket"))
  }

  test("runResumable on a corpus without JSON-LD returns an empty 7-column graph, also on resume") {
    val work = Files.createTempDirectory("graft-resume-empty").toString
    val files = (0 until 5).map(i =>
      RepoFile(s"org$i", s"src/F$i.scala", "c0", "scala", s"object F$i { val x = $i }"))
    val corpus = spark.createDataset(files)(Encoders.product[RepoFile])
    val ctx = spark.sparkContext.broadcast(Map.empty[String, String])
    val cols = Seq("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph")

    val first = Pipeline.runResumable(spark, corpus, work, ctx, buckets = 8)
    assert(first.columns.toSeq == cols)
    assert(first.count() == 0)
    assert(CorpusIO.stageDone(spark, s"$work/graph"))

    val second = Pipeline.runResumable(spark, corpus, work, ctx, buckets = 8)
    assert(second.columns.toSeq == cols)
    assert(second.count() == 0)
  }

  test("dedupAndWritePartitioned writes a predBucket-partitioned parquet graph") {
    val rows = (0 until 12).map(i =>
      QuadRow(s"d$i", s"http://ex.org/s$i", s"http://ex.org/p${i % 3}", s"o$i",
        QuadRow.KindIri, "", "", ""))
    val q = spark.createDataset(rows)(Encoders.product[QuadRow])

    val dir = Files.createTempDirectory("graft-triples").toString
    Pipeline.dedupAndWritePartitioned(q, s"$dir/graph", buckets = 8)
    val back = spark.read.parquet(s"$dir/graph")
    assert(back.count() == 12)
    assert(back.columns.contains("predBucket"))
  }
}
