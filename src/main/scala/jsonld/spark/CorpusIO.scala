package jsonld.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Stage checkpointing + resume.
  *
  * Each stage writes its output table and a `_GRAFT_STAGE_DONE` marker; a
  * re-entered driver skips completed stages by reading the table back.
  * Cheaper and more inspectable than rdd.checkpoint, and the unit of retry
  * is a whole stage — deterministic stage naming makes the DAG resumable
  * after driver loss (north rule: "resumable from checkpointed stage
  * outputs").
  *
  * Markers go through the Hadoop FileSystem API resolved from the stage
  * path itself, so resume works identically on local disk, HDFS, and
  * object stores (s3a://, gs://) — `java.nio.file` would silently treat
  * every remote path as absent and re-run the whole DAG.
  */
object CorpusIO {

  val DoneMarker = "_GRAFT_STAGE_DONE"

  private def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def stageDone(spark: SparkSession, dir: String): Boolean = {
    val (f, p) = fs(spark, dir)
    f.exists(new Path(p, DoneMarker))
  }

  def markDone(spark: SparkSession, dir: String): Unit = {
    val (f, p) = fs(spark, dir)
    f.mkdirs(p)
    val out = f.create(new Path(p, DoneMarker), true)
    out.close()
  }

  /** Run `compute` unless `dir` already holds this stage's output; either
    * way return the stage output as a DataFrame read from storage, so
    * downstream stages cut lineage at the checkpoint.
    */
  def stage(spark: SparkSession, dir: String)(compute: => DataFrame): DataFrame = {
    if (!stageDone(spark, dir)) {
      compute.write.mode("overwrite").parquet(dir)
      markDone(spark, dir)
    }
    spark.read.parquet(dir)
  }
}
