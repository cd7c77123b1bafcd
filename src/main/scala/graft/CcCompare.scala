package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.DedupOps

/** Measured guidance for the connected-components algorithm flag
  * (DedupOps.duplicateClusters `algorithm = "label" | "star"`): time BOTH
  * algorithms, with converged round counts, on
  *
  *  1. the REAL duplicate graph of the sf corpus (MinHash-LSH near-dup
  *     pairs ∪ exact-dup pairs — short diameter by construction: members
  *     of a cluster share LSH buckets), and
  *  2. an adversarial DEEP-CHAIN graph (`chains` disjoint paths of
  *     `depth` edges), the worst case for min-label propagation, whose
  *     round count is the component diameter, vs the O(log n) rounds of
  *     alternating large-star/small-star.
  *
  * Both timed regions gate on the same health discipline as graft.Bench
  * (the sandbox host's memory-write path collapses ~250× for minutes at
  * a time) and record gate/post probes per cell. The edge inputs are
  * localCheckpoint-materialized BEFORE the clock starts, so the cells
  * time the CC rounds alone, not the LSH pipeline.
  *
  * Run: sbt "runMain graft.CcCompare [sfDir] [depth] [chains]"
  * Output: one JSON line + cc_compare.json.
  */
object CcCompare {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val depth = if (args.length > 1) args(1).toInt else 100
    val chains = if (args.length > 2) args(2).toInt else 50
    Bench.cleanWorkRoot()
    val spark = Bench.newSession(Bench.cpus)
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // real dup graph: the exact edge set duplicateClusters feeds its CC
    // (materialized, so the cells below time the CC rounds only)
    val near = DedupOps.minhashNearDuplicates(docs, col("text"), col("doc_id"),
        n = 3, k = 32, bands = 8, threshold = 0.2)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val exact = DedupOps.exactDuplicatePairs(docs, col("text"), col("doc_id"))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val realEdges = near.union(exact).localCheckpoint()
    val realNodes = docs.select(col("doc_id").as("id")).localCheckpoint()

    // adversarial chains: `chains` disjoint paths, each `depth` edges
    val chainNodes = spark.range(chains.toLong * (depth + 1))
      .select(col("id")).localCheckpoint()
    val chainEdges = spark.range(chains.toLong * (depth + 1))
      .select(col("id").as("a"), (col("id") + 1).as("b"))
      .filter((col("id") + 1) % (depth + 1) =!= 0) // no edge across chain ends
      .localCheckpoint()

    case class Cell(graph: String, algo: String, secs: Double, rounds: Int,
                    components: Long, gate: Double, post: Double)

    def run(graph: String, algo: String, nodes: DataFrame, edges: DataFrame,
            maxIter: Int): Cell = {
      val (_, g) = Bench.awaitHealthyHost(maxWaitSec = 120)
      val t0 = System.nanoTime()
      val cc = algo match {
        case "label" => DedupOps.connectedComponents(nodes, edges, maxIter)
        case _ => DedupOps.connectedComponentsStar(nodes, edges, maxIter)
      }
      val nComponents = cc.select(countDistinct(col("component"))).head().getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      val post = Bench.postProbe()
      System.err.println(f"[cc] $graph/$algo: $secs%.2f s, ${DedupOps.lastCcRounds} rounds, $nComponents components (gate $g%.2f, post $post%.2f GB/s)")
      Cell(graph, algo, secs, DedupOps.lastCcRounds, nComponents, g, post)
    }

    // warmup (JIT + checkpoint touch), untimed
    DedupOps.connectedComponentsStar(realNodes, realEdges, 30).count()

    // interleave algorithms per graph so host drift hits both equally
    val cells = Seq(
      run("real_dup_graph", "label", realNodes, realEdges, 30),
      run("real_dup_graph", "star", realNodes, realEdges, 30),
      run(s"chain_d${depth}_x$chains", "label", chainNodes, chainEdges, depth + 5),
      run(s"chain_d${depth}_x$chains", "star", chainNodes, chainEdges, 40))

    val floor = Bench.cleanFloor
    def cellJson(c: Cell): String =
      f"""{"graph":"${c.graph}","algo":"${c.algo}","sec":${c.secs}%.2f,"rounds":${c.rounds},"components":${c.components},"gate_gbps":${c.gate}%.2f,"post_gbps":${c.post}%.2f,"clean":${c.gate >= floor && c.post >= floor}}"""
    // consistency cross-check: both algorithms must agree on component
    // counts per graph (the value-level agreement is oracle-gated in
    // CORRECTNESS; this is the cheap in-harness guard)
    cells.groupBy(_.graph).foreach { case (gname, cs) =>
      require(cs.map(_.components).distinct.size == 1,
        s"algorithms disagree on $gname: ${cs.map(c => c.algo -> c.components)}")
    }
    val json =
      s"""{"metric":"cc_algorithm_compare","cells":${cells.map(cellJson).mkString("[", ",", "]")},"clean_floor_gbps":${f"$floor%.2f"},"sf":"$sfDir","depth":$depth,"chains":$chains}"""
    println(json)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("cc_compare.json"), json)
    catch { case e: Exception => System.err.println(s"[cc] write failed: ${e.getMessage}") }
    spark.stop()
  }
}
