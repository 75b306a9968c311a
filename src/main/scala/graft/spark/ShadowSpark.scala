package graft.spark

import graft.core.{Doc, DocOut}
import graft.engine.RuleProgram
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ConfBridge, ShadowExtract}
import org.apache.spark.util.CollectionAccumulator

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One lineage row per task partition (north rule: per-partition lineage +
  * metrics: partition id, doc range, checksum, timings). */
final case class LineageRow(
    partition_id: Int,
    doc_lo: String,
    doc_hi: String,
    n_docs: Long,
    checksum: Long,
    wall_ms: Long)

/** Spark wiring for the extraction engine (SURVEY.md §3.5).
  *
  * Design for 100 TB / 1000 executors:
  *  - every entry point runs the engine as one planner-visible operator,
  *    the `ShadowExtract` plan node (graftbridge): the compiled
  *    RuleProgram is broadcast once, each task builds ONE engine instance
  *    and streams InternalRows through it (no per-row setup, no driver
  *    round-trips, no collect());
  *  - rows are embarrassingly parallel (all reference state is row-local,
  *    SURVEY.md §3.4) so no shuffle is needed for processing itself;
  *    `repartitionByDoc` is an optional hash spread for skewed corpora;
  *  - lineage is gathered with a lightweight accumulator (one row per
  *    partition, not per doc) — no second pass over the data;
  *  - resumable writes bucket the output by xxhash64(doc_id)%N with one
  *    commit marker per bucket: a re-run recomputes only uncommitted
  *    buckets (sandbox stand-in for Iceberg snapshot commits; the writer
  *    sits behind this object so a real catalog is a drop-in). The writer
  *    shuffles its input by bucket first, so each task owns whole buckets
  *    (one file per bucket) and the doc-id hash spreads mega-docs.
  */
object ShadowSpark {

  /** Pure engine application; preserves the input partitioning. */
  def process(docs: Dataset[Doc], program: RuleProgram): Dataset[DocOut] =
    processColumnar(docs.toDF(), program)

  /** Engine application over a DataFrame with the canonical
    * (doc_id string, spans array<struct<kind,text,media_ref,offset>>)
    * columns, as the `ShadowExtract` plan node: rows are read as
    * InternalRows and written as UnsafeRows, with no Encoder pass. */
  def processColumnar(df: DataFrame, program: RuleProgram): Dataset[DocOut] =
    ShadowExtract.rows(df, program).as(Encoders.product[DocOut])

  /** Engine application + per-partition lineage (accumulated driver-side;
    * one small row per task). Call `lineage.value` after an action. */
  def processWithLineage(docs: Dataset[Doc], program: RuleProgram)
      : (Dataset[DocOut], CollectionAccumulator[LineageRow]) = {
    val acc = docs.sparkSession.sparkContext.collectionAccumulator[LineageRow]("graft_lineage")
    (ShadowExtract.rows(docs.toDF(), program, Some(acc)).as(Encoders.product[DocOut]), acc)
  }

  /** Salted explicit repartition for skewed corpora: hash(doc_id) spreads
    * mega-docs uniformly; `parallelism` should be ~2-3x the executor-core
    * count at scale. AQE handles residual imbalance. */
  def repartitionByDoc(docs: Dataset[Doc], parallelism: Int): Dataset[Doc] =
    docs.repartition(parallelism, xxhash64(col("doc_id")))

  // ---------------- resumable bucketed writer ----------------

  def bucketOf(nBuckets: Int) = pmod(xxhash64(col("doc_id")), lit(nBuckets))

  private def markerDir(path: String) = Paths.get(path, "_graft_committed")

  /** Buckets with a commit marker under `path`. Entries of the marker
    * directory that are not `bucket-<int>` (a stray temp file, say) are
    * ignored. */
  def committedBuckets(path: String): Set[Int] = {
    val dir = markerDir(path)
    if (!Files.isDirectory(dir)) Set.empty
    else Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .flatMap(s => if (s.startsWith("bucket-")) s.stripPrefix("bucket-").toIntOption else None)
      .toSet
  }

  /** Write DocOut rows partitioned into `nBuckets` doc-hash buckets with a
    * commit marker per bucket. On re-run after a failure, committed buckets
    * are skipped (their input rows are filtered out BEFORE the engine runs,
    * so no recompute) and only missing buckets are (re)written via dynamic
    * partition overwrite. Returns the buckets written this run.
    *
    * Each bucket is written by one task, as one parquet file, so write
    * parallelism is min(nBuckets, the session's shuffle partitions): size
    * `nBuckets` at or above the cluster's core count.
    *
    * At real scale the input table would be Iceberg-partitioned by the same
    * bucket expression, so the resume filter prunes input partitions rather
    * than scanning them (documented deviation: no Iceberg jar in sandbox —
    * SURVEY.md §7.0).
    */
  def writeResumable(
      docs: Dataset[Doc],
      program: RuleProgram,
      path: String,
      nBuckets: Int = 64): Seq[Int] = {
    val spark = docs.sparkSession
    val done = committedBuckets(path)
    val todo = (0 until nBuckets).filterNot(done.contains)
    if (todo.isEmpty) return Seq.empty

    val remaining =
      if (done.isEmpty) docs
      else docs.where(!bucketOf(nBuckets).isin(done.toSeq.map(Integer.valueOf): _*))

    // Bucket ownership: each task of the shuffle owns whole buckets
    // (bucket % p), so the engine and the parquet write for a bucket run
    // in one task and a call writes one file per bucket, not one per
    // (input split x bucket). Hashing doc ids into buckets also spreads
    // mega-docs evenly.
    val p = math.min(nBuckets, ConfBridge.numShufflePartitions(spark))
    val owned = remaining.toDF().repartitionById(p, pmod(bucketOf(nBuckets), lit(p)).cast("int"))
    processColumnar(owned, program).toDF()
      .withColumn("bucket", bucketOf(nBuckets))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(path)

    // commit markers, one per bucket written this run
    Files.createDirectories(markerDir(path))
    todo.foreach { b =>
      Files.write(markerDir(path).resolve(s"bucket-$b"),
        s"""{"bucket":$b}""".getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
    todo
  }

  /** Write the collected lineage rows as a metrics side table. */
  def writeLineage(spark: SparkSession, rows: java.util.List[LineageRow], path: String): Unit = {
    import spark.implicits._
    val buf = new ArrayBuffer[LineageRow](rows.size())
    rows.iterator().asScala.foreach(buf += _)
    buf.toSeq.toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
  }
}
