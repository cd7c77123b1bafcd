package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.GraphOps

/** Measured guidance for materialized-closure maintenance
  * (GraphOps.updateClosure vs a full transitiveClosure re-close): on the
  * sf document parent tree, time
  *
  *  1. the full re-close of ALL edges (what a naive nightly job does),
  *  2. a delta fold of ~1/7 of the edges into the prebuilt closure of
  *     the rest (a big incremental batch), and
  *  3. a delta fold of ~0.1% of the edges (the steady-state ingest
  *     shape) — the case the semi-naive delta iteration exists for.
  *
  * The base closures are built and localCheckpoint-materialized BEFORE
  * the clock starts, so the cells time the maintenance operation alone.
  * Same health-gate discipline as graft.Bench (per-cell gate/post
  * probes); a consistency guard requires each fold's path count to
  * equal the full closure's.
  *
  * Run: sbt "runMain graft.ClosureCompare [sfDir]"
  * Output: one JSON line + closure_compare.json.
  */
object ClosureCompare {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val replication = if (args.length > 1) args(1).toInt else 40
    Bench.cleanWorkRoot()
    val spark = Bench.newSession(Bench.cpus)
    spark.sparkContext.setLogLevel("WARN")

    // replicate the parent tree into `replication` disjoint copies (id
    // offset per copy): the sf0.1 tree alone is ~57k closure paths,
    // small enough that per-round fixed costs dominate — at ~2.3M paths
    // the cells measure the algorithms, not the scheduler
    val edges = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") > 0)
      .crossJoin(spark.range(replication).select(col("id").as("copy")))
      .select((col("doc_id") + col("copy") * 10000000L).as("src"),
        (expr("doc_id div 2") + col("copy") * 10000000L).as("dst"))
      .localCheckpoint()

    def split(mod: Int): (DataFrame, DataFrame) = (
      edges.filter(col("src") % mod =!= 3).localCheckpoint(),
      edges.filter(col("src") % mod === 3).localCheckpoint())

    val (baseBig, deltaBig) = split(7)     // ~14% of edges new
    val (baseSmall, deltaSmall) = split(997) // ~0.1% of edges new

    // prebuilt closures — OUTSIDE the timed region, like the stored
    // closure table a maintenance job starts from
    val closureBig = GraphOps.transitiveClosure(baseBig).localCheckpoint()
    val closureSmall = GraphOps.transitiveClosure(baseSmall).localCheckpoint()

    case class Cell(op: String, secs: Double, paths: Long, gate: Double, post: Double)

    def run(op: String)(body: => DataFrame): Cell = {
      val (_, g) = Bench.awaitHealthyHost(maxWaitSec = 120)
      val t0 = System.nanoTime()
      val paths = body.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val post = Bench.postProbe()
      System.err.println(f"[closure] $op: $secs%.2f s, $paths paths (gate $g%.2f, post $post%.2f GB/s)")
      Cell(op, secs, paths, g, post)
    }

    // warmup (JIT + shuffle machinery), untimed
    GraphOps.transitiveClosure(baseSmall).count()

    val cells = Seq(
      run("full_reclose")(GraphOps.transitiveClosure(edges)),
      run("delta_fold_14pct")(GraphOps.updateClosure(closureBig, deltaBig)),
      run("delta_fold_0.1pct")(GraphOps.updateClosure(closureSmall, deltaSmall)))

    require(cells.map(_.paths).distinct.size == 1,
      s"maintenance disagrees with re-close: ${cells.map(c => c.op -> c.paths)}")

    val floor = Bench.cleanFloor
    def cellJson(c: Cell): String =
      f"""{"op":"${c.op}","sec":${c.secs}%.2f,"paths":${c.paths},"gate_gbps":${c.gate}%.2f,"post_gbps":${c.post}%.2f,"clean":${c.gate >= floor && c.post >= floor}}"""
    val json =
      s"""{"metric":"closure_maintenance_compare","cells":${cells.map(cellJson).mkString("[", ",", "]")},"clean_floor_gbps":${f"$floor%.2f"},"sf":"$sfDir"}"""
    println(json)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("closure_compare.json"), json)
    catch { case e: Exception => System.err.println(s"[closure] write failed: ${e.getMessage}") }
    spark.stop()
  }
}
