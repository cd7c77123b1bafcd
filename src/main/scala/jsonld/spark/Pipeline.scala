package jsonld.spark

import org.apache.spark.sql.{Dataset, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.LongAccumulator
import org.apache.spark.TaskContext
import jsonld.core._
import jsonld.core.Rdf._

/** The KG-construction DAG: detect → expand → toRDF → URDNA2015 → dedup →
  * link → partitioned write.
  *
  * Parallelism model (SURVEY.md "key architectural fact"): every JSON-LD
  * algorithm is per-document and sequential, so each stage runs the pure
  * core inside `mapPartitions` — one task processes many documents, no
  * per-document state ever crosses a task boundary (blank-node scopes are
  * per document). Corpus-level relational work (dedup, joins, bucketing,
  * lineage aggregation) is left to Catalyst. The written graph shuffles
  * once: dedup rides the predicate-bucketed write's own exchange
  * ([[dedupAndWritePartitioned]]).
  *
  * Scale notes (100 TB / 1000 executors):
  * - detection is a narrow map over the scan — predicate + column pruning
  *   reach parquet because the cheap filter is a Column expression;
  * - the remote-context cache is a Broadcast[Map[url,String]] (contexts are
  *   a closed, small set; executors NEVER do I/O per document);
  * - one fused mapPartitions does parse→expand→toRDF→c14n per doc: no
  *   intermediate shuffle, no JSON re-serialization between stages;
  * - canonicalization worst case is factorial: a per-doc permutation budget
  *   routes adversarial docs to quarantine instead of stalling an executor.
  */
object Pipeline extends Serializable {

  /** Wire row emitted by the fused transform stage (ok and error rows share
    * one pass; split downstream with a cheap filter).
    */
  final case class PipeRow(
      ok: Boolean,
      docId: String,
      repo: String,
      path: String,
      subj: String,
      pred: String,
      obj: String,
      objKind: Byte,
      objDatatype: String,
      objLang: String,
      graph: String,
      errorCode: String,
      errorMessage: String)

  final case class Counters(
      filesIn: LongAccumulator,
      docsDetected: LongAccumulator,
      docsOk: LongAccumulator,
      docsFailed: LongAccumulator,
      quadsOut: LongAccumulator,
      quadsDropped: LongAccumulator)

  def newCounters(spark: SparkSession): Counters = Counters(
    spark.sparkContext.longAccumulator("graft.filesIn"),
    spark.sparkContext.longAccumulator("graft.docsDetected"),
    spark.sparkContext.longAccumulator("graft.docsOk"),
    spark.sparkContext.longAccumulator("graft.docsFailed"),
    spark.sparkContext.longAccumulator("graft.quadsOut"),
    spark.sparkContext.longAccumulator("graft.quadsDropped"))

  /** Incremental ingest: keep only files that are NEW or whose content
    * CHANGED since a prior run. `prevManifest` is the previous run's
    * (path, content_sha256) table — exactly what the detect stage records
    * per row — and the filter is one left-anti join on those two columns
    * (broadcast when the manifest is small, shuffle otherwise; AQE
    * decides). At 10^12 files reprocessing the unchanged 99% is the
    * difference between a nightly delta and a week-long full rebuild;
    * content-hash (not mtime/commit) comparison makes the delta exact.
    */
  def incrementalCorpus(corpus: Dataset[RepoFile],
                        prevManifest: DataFrame): Dataset[RepoFile] = {
    import corpus.sparkSession.implicits._
    corpus.toDF()
      .withColumn("content_sha256", sha2(col("content"), 256))
      .join(prevManifest.select(col("path"), col("content_sha256")),
        Seq("path", "content_sha256"), "left_anti")
      .drop("content_sha256")
      .as[RepoFile]
  }

  /** Stage 1: detection. Cheap column-level pre-filter first (pushable /
    * codegen'd), then the per-file extractor.
    *
    * `filesIn` counts files entering the JVM-side extractor, i.e. AFTER
    * the pushed-down pre-filter — counting raw scanned rows would require
    * piercing predicate pushdown with a per-row accumulator map, defeating
    * the pruning the stage exists for. Scanned-row totals belong to the
    * storage layer (parquet footer counts), not this metric.
    */
  def detectStage(corpus: Dataset[RepoFile], counters: Counters): Dataset[DetectedDoc] = {
    import corpus.sparkSession.implicits._
    val prefiltered = corpus.filter(
      col("content").isNotNull && (
        lower(col("lang")).isin("jsonld", "json", "html") ||
        col("path").endsWith(".jsonld") || col("path").endsWith(".json") ||
        col("content").contains("@context") || col("content").contains("@graph") ||
        col("content").contains("application/ld+json")))
    prefiltered.mapPartitions { files =>
      files.flatMap { f => counters.filesIn.add(1); Detect.detect(f) }
    }
  }

  /** Stage 2+3+4 fused: parse → expand (broadcast context cache) → toRDF →
    * per-doc URDNA2015 → QuadRow/ErrorRow wire format.
    */
  def transformStage(docs: Dataset[DetectedDoc],
                     contextCache: Broadcast[Map[String, String]],
                     counters: Counters,
                     canonicalize: Boolean = true,
                     maxPermutations: Long = 100000L): Dataset[PipeRow] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { iter =>
      // one loader per partition: parsed-context cache lives across docs
      val loader = new MapDocumentLoader(contextCache.value)
      iter.flatMap { d =>
        counters.docsDetected.add(1)
        try {
          val opts = JsonLdOptions(base = d.baseIri, documentLoader = loader)
          val parsed =
            try Json.parse(d.json)
            catch { case e: Exception =>
              throw JsonLdError(JsonLdError.InvalidInput, String.valueOf(e.getMessage))
            }
          val expanded = Processor.expand(parsed, opts)
          val dataset = ToRdf.toRdf(expanded, opts)
          // observable data loss: validity-filtered quads AND spec-mandated
          // relative-IRI skips (both silent in the reference)
          counters.quadsDropped.add(
            dataset.droppedQuads + dataset.skippedRelative + dataset.skippedGeneralized)
          val quads: Seq[(String, Quad)] =
            if (canonicalize)
              new Canonicalizer("URDNA2015", maxPermutations).canonicalQuads(dataset)
                .map { case (g, q) => (if (g.isEmpty) "@default" else g, q) }
            else dataset.allQuads
          counters.docsOk.add(1)
          counters.quadsOut.add(quads.size)
          quads.iterator.map { case (graphName, q) =>
            val (obj, kind, dt, lang) = q.obj match {
              case RIri(v) => (v, QuadRow.KindIri, "", "")
              case RBlank(v) => (v, QuadRow.KindBlank, "", "")
              case RLiteral(v, d2, l2) => (v, QuadRow.KindLiteral, d2, l2)
            }
            // ok rows travel without repo/path (derivable from docId):
            // at 10^12-file scale those two strings dominate shuffle bytes
            PipeRow(ok = true, d.docId, "", "",
              q.subject.value, q.predicate.value, obj, kind, dt, lang,
              if (graphName == "@default") "" else graphName, "", "")
          }
        } catch {
          case e: JsonLdError =>
            counters.docsFailed.add(1)
            Iterator.single(PipeRow(ok = false, d.docId, d.repo, d.path,
              "", "", "", QuadRow.KindIri, "", "", "", e.code, e.details.take(200)))
          case e: Exception =>
            counters.docsFailed.add(1)
            Iterator.single(PipeRow(ok = false, d.docId, d.repo, d.path,
              "", "", "", QuadRow.KindIri, "", "", "", "crash", String.valueOf(e.getMessage).take(200)))
        }
      }
    }
  }

  /** ok/quarantine splits are UNTYPED (column filter + projection): a
    * typed `filter(_.ok).map(...)` would deserialize all 13 PipeRow fields
    * and re-encode per quad — measured as a large share of the transform
    * stage's wall time. These stay entirely inside Tungsten/codegen.
    */
  def quads(pipe: Dataset[PipeRow]): Dataset[QuadRow] = {
    import pipe.sparkSession.implicits._
    pipe.toDF().filter(col("ok"))
      .select(col("docId"), col("subj"), col("pred"), col("obj"),
        col("objKind"), col("objDatatype"), col("objLang"), col("graph"))
      .as[QuadRow]
  }

  def quarantine(pipe: Dataset[PipeRow]): Dataset[ErrorRow] = {
    import pipe.sparkSession.implicits._
    pipe.toDF().filter(!col("ok"))
      .select(col("docId"), col("repo"), col("path"),
        lit("transform").as("stage"), col("errorCode"), col("errorMessage").as("message"))
      .as[ErrorRow]
  }

  /** Corpus-level triple dedup — set semantics across documents, as a
    * hash aggregate with map-side partial combine. This is the in-memory
    * dedup for queries that write nothing (there is no write exchange to
    * fuse with) and the set-semantics reference the fused
    * [[dedupForWrite]] is checked against. docId is dropped BEFORE the
    * shuffle: dedup keeps an arbitrary witness anyway, and at corpus scale
    * the column is pure shuffle weight (the graph is the quad set,
    * provenance lives in the lineage/quarantine tables).
    */
  def dedupQuads(q: Dataset[QuadRow]): DataFrame =
    q.toDF().drop("docId")
      .dropDuplicates(Seq("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph"))

  /** Lineage: per-partition counts derived from the wire rows — a plain
    * aggregation Catalyst can fuse, no second pass over the data.
    */
  def lineage(pipe: Dataset[PipeRow]): DataFrame = {
    pipe.toDF()
      .withColumn("pid", spark_partition_id())
      .groupBy(col("pid"))
      .agg(
        countDistinct(when(col("ok"), col("docId"))).as("docsOk"),
        countDistinct(when(!col("ok"), col("docId"))).as("docsFailed"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("quadsOut"))
  }

  /** Full resumable DAG: every stage writes its output table + a done
    * marker under `workDir`; a re-entered driver skips completed stages
    * (north rule: resumable from checkpointed stage outputs). Stage names
    * are deterministic, so resume is a pure function of the work dir.
    *
    * The graph is written by the fused dedup+write
    * ([[dedupAndWritePartitioned]]) — the same one-shuffle path the
    * benchmark times. Returns the deduped quads read back from
    * `workDir/graph` (lineage cut at the checkpoint), without the
    * `predBucket` layout column.
    */
  def runResumable(spark: SparkSession, corpus: Dataset[RepoFile], workDir: String,
                   contextCache: Broadcast[Map[String, String]],
                   buckets: Int = 64): DataFrame = {
    import spark.implicits._
    val counters = newCounters(spark)

    val detectedDf = CorpusIO.stage(spark, s"$workDir/stage1_detected") {
      detectStage(corpus, counters).toDF()
    }

    val pipeDf = CorpusIO.stage(spark, s"$workDir/stage2_transformed") {
      transformStage(detectedDf.as[DetectedDoc], contextCache, counters).toDF()
    }
    val pipe = pipeDf.as[PipeRow]

    CorpusIO.stage(spark, s"$workDir/quarantine") { quarantine(pipe).toDF() }
    CorpusIO.stage(spark, s"$workDir/lineage") { lineage(pipe) }

    val graph = s"$workDir/graph"
    if (!CorpusIO.stageDone(spark, graph)) {
      dedupAndWritePartitioned(quads(pipe), graph, buckets)
      CorpusIO.markDone(spark, graph)
    }
    // explicit schema: a run that yields no quads leaves no data file under
    // partitionBy, so there would be nothing to infer the schema from
    spark.read.schema(dedupForWrite(spark.emptyDataset[QuadRow], buckets).schema)
      .parquet(graph).drop("predBucket")
  }

  private val graphCols =
    Seq("subj", "pred", "obj", "objKind", "objDatatype", "objLang", "graph")

  /** The single-Exchange stage feeding the fused dedup (exposed so
    * PlanSpec can pin the one-shuffle shape — the InternalRow map in
    * [[dedupForWrite]] hides it behind an RDD scan). Repartitions by
    * (predBucket, subj-salt), not bucket alone: a corpus with few
    * distinct predicates would otherwise confine the sort+write stage to
    * #buckets tasks regardless of cluster size; the salt keeps every core
    * busy while partitionBy still yields one directory per bucket.
    *
    * Rows sort by ONE xxhash64 over all quad columns, not by the quad
    * columns themselves: subject IRIs share long prefixes, so the
    * sorter's 8-byte prefix would disambiguate nothing and every
    * comparison would walk multiple strings. The hash is a radix-friendly
    * 8-byte key that makes duplicate quads adjacent up to collisions.
    */
  def bucketSorted(q: Dataset[QuadRow], buckets: Int): DataFrame =
    q.toDF().drop("docId")
      .withColumn("predBucket", pmod(hash(col("pred")), lit(buckets)))
      .withColumn("qh", xxhash64(graphCols.map(col): _*))
      .repartition(col("predBucket"), pmod(hash(col("subj")), lit(16)))
      .sortWithinPartitions(col("qh"))

  /** Corpus-level dedup fused into the write exchange. Two equal quads
    * share pred and subj, hence the same (predBucket, subjSalt) write
    * partition — so the write's own repartition already co-locates
    * duplicates, and dedup degenerates to dropping adjacent rows after
    * the per-partition sort. Each equal-hash run (almost always a single
    * row) is deduplicated by EXACT row comparison, so a collision can
    * never drop a distinct quad. Output: the seven quad columns plus
    * `predBucket`.
    */
  def dedupForWrite(q: Dataset[QuadRow], buckets: Int = 64): DataFrame =
    adjacentDedupUnsafe(bucketSorted(q, buckets)).drop("qh")

  private def adjacentDedupUnsafe(sorted: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    val qhIdx = sorted.schema.fieldIndex("qh") // bucketSorted's trailing column
    // adjacent-dedup over raw UnsafeRows (GraftInternal): the Row-encoder
    // version allocated one boxed row per quad and inverted thread scaling
    org.apache.spark.sql.GraftInternal.mapPartitionsUnsafe(sorted, { rows =>
      new Iterator[InternalRow] {
        // rows share a mutable buffer → copy anything retained (one flat
        // byte-array copy per row; no boxing, no string decode)
        private var pending: InternalRow = if (rows.hasNext) {
          val first = rows.next()
          // the run-dedup below relies on == being BYTE equality, which only
          // UnsafeRow provides (GenericInternalRow == is reference equality —
          // duplicates would silently pass). Fail fast if a plan change ever
          // stops toRdd yielding UnsafeRows.
          require(first.isInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow],
            s"dedupForWrite requires UnsafeRow partitions, got ${first.getClass.getName}")
          first.copy()
        } else null
        private val out = scala.collection.mutable.Queue.empty[InternalRow]
        private def refill(): Unit = if (out.isEmpty && pending != null) {
          // collect the full run of hash-equal rows starting at `pending`,
          // dropping exact duplicates within it (hash-equal ≠ row-equal)
          val h = pending.getLong(qhIdx)
          val run = scala.collection.mutable.ArrayBuffer[InternalRow](pending)
          pending = null
          var done = false
          while (!done && rows.hasNext) {
            val r = rows.next()
            if (r.getLong(qhIdx) == h) {
              val c = r.copy()
              if (!run.exists(_ == c)) run += c
            } else { pending = r.copy(); done = true }
          }
          out ++= run
        }
        def hasNext: Boolean = { refill(); out.nonEmpty }
        def next(): InternalRow = { refill(); out.dequeue() }
      }
    })
  }

  /** Fused dedup + predicate-bucketed materialize — ONE shuffle for
    * both: [[dedupForWrite]]'s exchange co-locates quads of one predicate
    * family, and the write partitions the directory tree by `predBucket`
    * for pushdown-able reads at 100 TB (SURVEY.md §2.10). The
    * dynamic-partition writer re-sorts by the int predBucket only.
    */
  def dedupAndWritePartitioned(q: Dataset[QuadRow], outDir: String, buckets: Int = 64): Unit =
    dedupForWrite(q, buckets).write.mode("overwrite").partitionBy("predBucket").parquet(outDir)
}
