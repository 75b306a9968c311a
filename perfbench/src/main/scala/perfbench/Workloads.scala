package perfbench

import graft.core.{Doc, DocOut, Span, SpanKinds}
import graft.corpus.Corpus
import graft.engine.{RuleCompiler, RuleProgram, ShadowEngine}
import graft.rules.RuleParser
import graft.spark.{ShadowSpark, SqlFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** What the output check found. `failed` counts docs missing from the
  * output plus output rows that carry an `[engine]` error. */
final case class Check(docs: Long, rows: Long, distinct: Long, missing: Long,
                       engineErrors: Long, sampled: Int, mismatches: Seq[String]) {
  def failed: Long = missing + engineErrors
  def ok: Boolean = rows == docs && distinct == docs && missing == 0 && mismatches.isEmpty
}

/** One benchmark workload. The program sees only the generated input
  * table; everything here is a function of the seed. */
abstract class Workload(val name: String, val seed: Long) {
  /** Docs in the workload's table: indices `firstIdx until firstIdx + docs`. */
  def docs: Long
  def firstIdx: Long
  def writeInput(spark: SparkSession, input: String): Unit
  /** The rule program, parsed and compiled; called once per set-up round. */
  def compile(): RuleProgram
  /** The timed call: writes the workload's output table to `out`. */
  def run(spark: SparkSession, input: String, out: String): Unit
  /** A run into `out` that fails part-way, so that `run` on the same path
    * resumes it. A writer that cannot resume has nothing to crash: `run`
    * then rewrites the whole table. */
  def crash(spark: SparkSession, input: String, out: String): Unit = ()
  /** Ledger job: read, decode and run the engine, then drop the rows. */
  def extractJob(spark: SparkSession, input: String): Unit
  /** Ledger job: as `extractJob`, plus encoding the output rows. */
  def emitJob(spark: SparkSession, input: String): Unit
  def check(spark: SparkSession, out: String): Check
  /** Fixed single-thread loop sample. */
  def loopDocs: Seq[Doc]
  /** The rules the `shadow_extract` expression runs in the loop. */
  def exprRules: String

  protected def program: RuleProgram

  /** The `j`-th seeded doc index in `[lo, lo + n)`, for the output check. */
  protected def draw(lo: Long, n: Long)(j: Int): Long =
    lo + Math.floorMod(Corpus.splitmix64(seed * 7919L + j), n)

  /** Row count, distinct ids, ids missing from the output, and rows whose
    * errors (the `errors` column) carry an `[engine]` error. The ids come
    * back to this JVM and are compared with the generator's. */
  protected def counts(out: DataFrame, errors: String): (Long, Long, Long, Long) = {
    val rows = out.select(col("doc_id"),
      coalesce(exists(col(errors), _.startsWith("[engine]")), lit(false))).collect()
    val seen = new java.util.HashSet[String]
    rows.foreach(r => seen.add(r.getString(0)))
    val missing = (firstIdx until firstIdx + docs).count(i => !seen.contains(Corpus.docId(i)))
    (rows.length, seen.size, missing, rows.count(_.getBoolean(1)))
  }
}

object Workload {
  val names: Seq[String] = Seq("extract_write", "sql_extract_small")

  def apply(name: String, seed: Long): Workload = name match {
    case "extract_write" => new ExtractWrite(seed)
    case "sql_extract_small" => new SqlExtractSmall(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** Compiles rule trees the way graft's callers do: parse errors first. */
  def compileRules(rules: Seq[String]): RuleProgram = {
    val errs = new ArrayBuffer[String]
    val parsed = rules.map(RuleParser.parseStr(_, errs))
    val p = RuleCompiler.compile(parsed)
    p.copy(compileErrors = errs.toVector ++ p.compileErrors)
  }
}

/** The canonical north-star job: the `Corpus` mix through
  * `ShadowSpark.writeResumable` with the head and body programs. */
final class ExtractWrite(seed: Long, val docs: Long = 20000L) extends Workload("extract_write", seed) {
  /** The seed offsets the doc indices; every 1000th index is a mega-doc. */
  val firstIdx: Long = 100000L * Math.floorMod(seed, 1000000L) + 1
  private val inputFiles = 8
  protected var program: RuleProgram = _

  def compile(): RuleProgram = {
    program = Workload.compileRules(Seq(Corpus.headRules, Corpus.corpusRules))
    program
  }

  def writeInput(spark: SparkSession, input: String): Unit = {
    import spark.implicits._
    spark.range(firstIdx, firstIdx + docs, 1, inputFiles).map(i => Corpus.makeDoc(i))
      .write.parquet(input)
  }

  private def docsOf(spark: SparkSession, input: String): Dataset[Doc] = {
    import spark.implicits._
    spark.read.parquet(input).as[Doc]
  }

  def run(spark: SparkSession, input: String, out: String): Unit =
    ShadowSpark.writeResumable(docsOf(spark, input), program, out)

  def extractJob(spark: SparkSession, input: String): Unit =
    ShadowSpark.processColumnar(spark.read.parquet(input), program).count()

  def emitJob(spark: SparkSession, input: String): Unit =
    ShadowSpark.processColumnar(spark.read.parquet(input), program).toDF()
      .write.format("noop").mode("overwrite").save()

  private val buckets = 64 // writeResumable's default

  /** Writes to `out` through an input wrapper that throws on any row of the
    * upper half of the writer's buckets; with no task retries (local mode)
    * the run fails, and `writeResumable` on the clean input then finishes
    * the table. */
  override def crash(spark: SparkSession, input: String, out: String): Unit = {
    import spark.implicits._
    val half = buckets / 2
    val crashAt = udf { (b: Long) =>
      if (b >= half) throw new IllegalStateException(s"injected failure in bucket $b")
      true
    }
    val wrapped = docsOf(spark, input).where(crashAt(ShadowSpark.bucketOf(buckets))).as[Doc]
    val level = org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString
    spark.sparkContext.setLogLevel("OFF") // the injected task failure is expected
    val failure =
      try { ShadowSpark.writeResumable(wrapped, program, out); None }
      catch { case scala.util.control.NonFatal(e) => Some(e) }
      finally { awaitIdle(spark); spark.sparkContext.setLogLevel(level) }
    val causes = Iterator.iterate(failure.orNull)(_.getCause).takeWhile(_ != null)
    require(causes.exists(e => String.valueOf(e.getMessage).contains("injected failure")),
      s"the crash run did not fail on the injected failure: $failure")
    require(ShadowSpark.committedBuckets(out).size <= half,
      "the crash run committed upper-half buckets")
  }

  /** Waits until the failed job's cancelled tasks have ended, so none of
    * them runs on into the next call. */
  private def awaitIdle(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 20000000000L
    def running = { TaskLog.drain(sc); sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum }
    while (running > 0 && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** The first mega-doc index of the input. */
  val firstMega: Long = (firstIdx + 999) / 1000 * 1000

  def check(spark: SparkSession, out: String): Check = {
    import spark.implicits._
    val table = spark.read.parquet(out)
    val (rows, distinct, missing, engineErrors) = counts(table, "errors")
    // the first mega-doc and 48 seeded docs, plus the next seeded doc with
    // media spans if none of those has one
    def hasMedia(i: Long) = Corpus.makeDoc(i).spans.exists(_.kind == SpanKinds.Media)
    val seeded = firstMega +: (0 until 48).map(draw(firstIdx, docs))
    val idx = if (seeded.exists(hasMedia)) seeded
      else seeded :+ Iterator.from(48).map(draw(firstIdx, docs)).find(hasMedia).get
    val engine = new ShadowEngine(program)
    val expected = idx.distinct.map(i => engine.process(Corpus.makeDoc(i))).map(d => d.doc_id -> d).toMap
    val got = table.where(col("doc_id").isin(expected.keys.toSeq: _*))
      .select("doc_id", "spans", "data_json", "errors").as[DocOut].collect()
      .map(d => d.doc_id -> d).toMap
    val mismatches = expected.toSeq.sortBy(_._1).collect {
      case (id, want) if !got.get(id).contains(want) =>
        s"doc $id: " + got.get(id).fold("missing")(g => s"got ${g.toString.take(200)}")
    }
    Check(docs, rows, distinct, missing, engineErrors, expected.size, mismatches)
  }

  /** 2000 consecutive docs from the first mega-doc on: the corpus mix at its
    * natural frequency, mega-docs included. */
  def loopDocs: Seq[Doc] = (firstMega until firstMega + 2000).map(i => Corpus.makeDoc(i))

  /** `shadow_extract` takes one rule tree: the body program. */
  def exprRules: String = Corpus.corpusRules
}

/** Many small docs through the SQL front door: one 200-400 B span per doc,
  * one anchor each, in the style of the `sq1_sql_shadow_extract` query. */
final class SqlExtractSmall(seed: Long) extends Workload("sql_extract_small", seed) {
  val docs: Long = 200000L
  val firstIdx: Long = 1000000L * Math.floorMod(seed, 1000000L)
  private val inputFiles = 8
  /** Attribute upsert plus two extracted values. */
  val rule: String =
    """{"s":"a.z","edit":{"attrs":{"rel":{"op":"upsert","val":"nofollow"}}},""" +
      """"data":{"path":"d","values":{"u":{"source":"Attribute","name":"href"},"t":{"source":"Contents"}}}}"""
  protected var program: RuleProgram = _

  def compile(): RuleProgram = {
    program = Workload.compileRules(Seq(rule))
    program
  }

  def writeInput(spark: SparkSession, input: String): Unit = {
    import spark.implicits._
    spark.range(firstIdx, firstIdx + docs, 1, inputFiles).map(i => SqlExtractSmall.doc(i))
      .write.parquet(input)
  }

  private var registered = false

  private def select(spark: SparkSession, input: String, what: String): DataFrame = {
    if (!registered) { SqlFunctions.register(spark); registered = true }
    spark.read.parquet(input).createOrReplaceTempView("perfbench_docs")
    spark.sql(s"SELECT $what FROM perfbench_docs")
  }

  private def extract = s"shadow_extract(spans, '$rule')"

  def run(spark: SparkSession, input: String, out: String): Unit =
    select(spark, input, s"doc_id, $extract AS r").write.parquet(out)

  // the expression builds its output struct itself, so emitting adds only
  // the sink: extract runs the projection and drops its rows
  def extractJob(spark: SparkSession, input: String): Unit =
    select(spark, input, s"doc_id, $extract AS r").queryExecution.toRdd.count()

  def emitJob(spark: SparkSession, input: String): Unit =
    select(spark, input, s"doc_id, $extract AS r").write.format("noop").mode("overwrite").save()

  def check(spark: SparkSession, out: String): Check = {
    val table = spark.read.parquet(out).select(col("doc_id"), col("r.html"), col("r.data_json"),
      col("r.errors"))
    val (rows, distinct, missing, engineErrors) = counts(table, "errors")
    val engine = new ShadowEngine(program)
    val expected = (0 until 64).map(draw(firstIdx, docs)).map { i =>
      val d = SqlExtractSmall.doc(i)
      d.doc_id -> SqlExtractSmall.asExtracted(engine.process(d.copy(doc_id = "")))
    }.toMap
    val got = table.where(col("doc_id").isin(expected.keys.toSeq: _*)).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getSeq[String](3))).toMap
    val mismatches = expected.toSeq.sortBy(_._1).collect {
      case (id, want) if !got.get(id).contains(want) =>
        s"doc $id: " + got.get(id).fold("missing")(g => s"got ${g.toString.take(200)}")
    }
    Check(docs, rows, distinct, missing, engineErrors, expected.size, mismatches)
  }

  def loopDocs: Seq[Doc] = (firstIdx until firstIdx + 2000).map(SqlExtractSmall.doc)

  def exprRules: String = rule
}

object SqlExtractSmall {
  private val words = Array("alpha", "beta", "gamma", "delta", "news", "site", "page", "link",
    "story", "today", "local", "world")
  private val langs = Array("en", "de", "fr", "es", "ja", "pt")

  /** One doc of one span: a paragraph around one `a.z` anchor, 200-400 B. */
  def doc(i: Long): Doc = {
    val r = Corpus.splitmix64(i)
    val target = 200 + Math.floorMod(r, 201L).toInt
    val anchor = s"""<a class="z" href="http://site/s${Math.floorMod(r >>> 16, 7L)}/$i">""" +
      s"${langs(Math.floorMod(r >>> 24, langs.length.toLong).toInt)}</a>"
    val sb = new java.lang.StringBuilder(target).append("<p>")
    var k = 0
    def word(): Unit = {
      sb.append(words(Math.floorMod(Corpus.splitmix64(i * 31 + k), words.length.toLong).toInt)).append(' ')
      k += 1
    }
    while (k < 3) word()
    sb.append(anchor).append(' ')
    while (sb.length < target - 10) word()
    while (sb.length < target - 4) sb.append('.')
    sb.append("</p>")
    Doc(Corpus.docId(i), Seq(Span(SpanKinds.Html, sb.toString, "", 0)))
  }

  /** The `(html, data_json, errors)` struct as `ShadowExtractExpr` builds it. */
  def asExtracted(out: DocOut): (String, String, Seq[String]) = {
    val html = new java.lang.StringBuilder
    out.spans.foreach(s => if (s.kind == SpanKinds.Html || s.kind == SpanKinds.Data) html.append(s.text))
    (html.toString, out.data_json, out.errors)
  }
}
