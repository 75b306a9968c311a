package org.apache.spark.sql.graftbridge

import graft.core.DocOut
import graft.engine.{RuleProgram, SpanAcc}
import graft.spark.{ExtractStep, LineageRow}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** The extraction engine as one logical plan node. `child` yields the
  * canonical (doc_id string, spans array<struct<kind,text,media_ref,offset>>)
  * columns, in that order; the node yields DocOut rows. It references both
  * child columns, so column pruning keeps them whatever its parent reads.
  * Its output is its own, so a self-join renews it (MultiInstanceRelation)
  * as it renews a scan's. */
case class ShadowExtract(
    program: RuleProgram,
    lineage: Option[CollectionAccumulator[LineageRow]],
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode with MultiInstanceRelation {
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override def newInstance(): ShadowExtract = copy(output = output.map(_.newInstance()))
  override protected def stringArgs: Iterator[Any] = Iterator(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): ShadowExtract =
    copy(child = newChild)
}

object ShadowExtract {
  private lazy val docOutSchema = Encoders.product[DocOut].schema

  /** DocOut rows of the engine over `df`'s `doc_id` and `spans` columns;
    * when `lineage` is given, each task adds one LineageRow to it. */
  def rows(df: DataFrame, program: RuleProgram,
           lineage: Option[CollectionAccumulator[LineageRow]] = None): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(ShadowExtractStrategy))
      spark.experimental.extraStrategies = ShadowExtractStrategy +: strategies
    val child = df.select(col("doc_id"), col("spans")).queryExecution.analyzed
    Dataset.ofRows(spark,
      ShadowExtract(program, lineage, DataTypeUtils.toAttributes(docOutSchema), child))
  }
}

/** Plans [[ShadowExtract]] into [[ShadowExtractExec]]. */
object ShadowExtractStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ShadowExtract(program, lineage, output, child) =>
      ShadowExtractExec(program, lineage, output, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Per partition: the child's InternalRows are read in place (doc_id at
  * ordinal 0, spans at ordinal 1, no projection), the engine fills its
  * reusable SpanAcc, and each output row is written straight into a reused
  * UnsafeRowWriter — no Span/DocOut objects, no Encoder pass. The compiled
  * program is broadcast once; each task builds its own engine. */
case class ShadowExtractExec(
    program: RuleProgram,
    lineage: Option[CollectionAccumulator[LineageRow]],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {
  override def producedAttributes: AttributeSet = outputSet
  override protected def stringArgs: Iterator[Any] = Iterator(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = sparkContext.broadcast(program)
    val sink = lineage
    child.execute().mapPartitionsInternal { rows =>
      val step = new ExtractStep(bc.value)
      val out = new DocOutWriter
      val tracker = sink.map(new LineageTracker(_)).orNull
      rows.map { row =>
        val docId = row.getUTF8String(0)
        val acc = step(row.getArray(1))
        if (tracker != null) tracker.add(docId, acc)
        out.write(docId, acc)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ShadowExtractExec =
    copy(child = newChild)
}

/** Writes one DocOut row from the engine's SpanAcc into a reused UnsafeRow. */
private final class DocOutWriter {
  private val rowWriter = new UnsafeRowWriter(4)
  private val spansWriter = new UnsafeArrayWriter(rowWriter, 8)
  private val spanWriter = new UnsafeRowWriter(spansWriter, 4)
  private val errorsWriter = new UnsafeArrayWriter(rowWriter, 8)
  // kind strings are a tiny closed set ("html"/"media"/"data"/...);
  // media_refs are unique per doc, so those are NOT memoized
  private val kinds = new java.util.HashMap[String, UTF8String](8)

  private def u8(s: String): UTF8String = UTF8String.fromString(s)

  private def kindOf(s: String): UTF8String = {
    var v = kinds.get(s)
    if (v == null) { v = u8(s); kinds.put(s, v) }
    v
  }

  def write(docId: UTF8String, acc: SpanAcc): InternalRow = {
    rowWriter.reset()
    rowWriter.zeroOutNullBytes()
    if (docId == null) rowWriter.setNullAt(0) else rowWriter.write(0, docId)
    // spans: array<struct<kind,text,media_ref,offset>>
    val spansCursor = rowWriter.cursor()
    spansWriter.initialize(acc.n)
    var i = 0
    while (i < acc.n) {
      val structCursor = spansWriter.cursor()
      spanWriter.resetRowWriter()
      spanWriter.write(0, kindOf(acc.kinds(i)))
      spanWriter.write(1, u8(acc.texts(i)))
      spanWriter.write(2, u8(acc.refs(i)))
      spanWriter.write(3, i)
      spansWriter.setOffsetAndSizeFromPreviousCursor(i, structCursor)
      i += 1
    }
    rowWriter.setOffsetAndSizeFromPreviousCursor(1, spansCursor)
    rowWriter.write(2, u8(acc.dataJson))
    val errorsCursor = rowWriter.cursor()
    errorsWriter.initialize(acc.errors.length)
    var e = 0
    while (e < acc.errors.length) {
      errorsWriter.write(e, u8(acc.errors(e)))
      e += 1
    }
    rowWriter.setOffsetAndSizeFromPreviousCursor(3, errorsCursor)
    rowWriter.getRow
  }
}

/** Per-task lineage: doc-id range, count and checksum of what the task
  * processed, added to `sink` as one LineageRow when the task completes —
  * a completion listener, not a drained-iterator probe, so a downstream
  * `limit` that stops consuming early still records what WAS processed. */
private final class LineageTracker(sink: CollectionAccumulator[LineageRow]) {
  private val t0 = System.nanoTime()
  private var lo: String = null
  private var hi: String = null
  private var n = 0L
  private var checksum = 0L

  private val tc = TaskContext.get()
  if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
    sink.add(LineageRow(tc.partitionId(), Option(lo).getOrElse(""), Option(hi).getOrElse(""),
      n, checksum, (System.nanoTime() - t0) / 1000000L))
  }

  def add(docId: UTF8String, out: SpanAcc): Unit = {
    if (docId != null) {
      val id = docId.toString
      if (lo == null || id < lo) lo = id
      if (hi == null || id > hi) hi = id
    }
    n += 1
    checksum ^= java.lang.Long.rotateLeft(
      out.dataJson.hashCode.toLong * 0x9e3779b97f4a7c15L + out.n, (n % 63).toInt)
  }
}
