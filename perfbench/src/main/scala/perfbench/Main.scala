package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit, when}

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Paths, StandardOpenOption}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`, or `--self-test --work <dir>`.
  *
  * Set-up (input generation and its parquet write, rule compilation and one
  * warm-up call) runs several times and is reported as a median. After more
  * untimed calls, the timed call repeats for the given seconds with tracing
  * off, each call between two full collections; the output of the last call
  * is checked before anything is printed. The last stdout line is the
  * result object. */
object Main {
  final class CheckFailed(msg: String) extends RuntimeException(msg)

  final case class Opts(workload: String = "", seed: Long = 0L, seconds: Int = 10,
                        trace: Boolean = false, selfTest: Boolean = false, work: String = "")

  /** One timed call. */
  final case class Rep(traced: Boolean, wallNs: Long, cpuNs: Long, jitMs: Long, heapBytes: Long,
                       tasks: Seq[TaskLog.Task])

  private val WarmupBudgetNs = 12000000000L

  def main(args: Array[String]): Unit = {
    val code =
      try { run(parse(args.toList, Opts())); 0 }
      catch {
        case e: CheckFailed => System.err.println(s"perfbench: output check failed: ${e.getMessage}"); 3
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    System.exit(code)
  }

  @annotation.tailrec
  private def parse(args: List[String], o: Opts): Opts = args match {
    case Nil =>
      require(o.work.nonEmpty, "--work is required")
      require(o.selfTest || Workload.names.contains(o.workload),
        s"--workload must be one of ${Workload.names.mkString(", ")}")
      require(o.seconds >= 1, "--seconds must be at least 1")
      o
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toInt))
    case "--trace" :: v :: rest =>
      require(v == "0" || v == "1", "--trace takes 0 or 1")
      parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--self-test" :: rest => parse(rest, o.copy(selfTest = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument '$other'")
  }

  private def session(k: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$k]") // local mode: a failed task fails its job, no retries
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", k.toString)
      // one task per input file
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.files.openCostInBytes", "64m")
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .config("spark.hadoop.fs.file.impl", classOf[LocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def seconds(ns: Long): Double = ns / 1e9

  private def timeNs(body: => Unit): Long = {
    val t0 = System.nanoTime()
    body
    System.nanoTime() - t0
  }

  def run(o: Opts): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Heap.peakDuring(()) // starts the GC notification log
    val host = Seq(
      "host.spin_per_s_1t" -> (Host.spinPerS(), "1/s"),
      "host.alloc_gib_per_s_1t" -> (Host.allocGibPerS(), "GiB/s"))
    val nproc = Runtime.getRuntime.availableProcessors
    val k = math.min(4, nproc)
    val spark = session(k, o.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    try {
      if (o.selfTest) selfTest(spark, o.work)
      else measure(spark, o, k, nproc, host, sessionS)
    } finally spark.stop()
  }

  private def measure(spark: SparkSession, o: Opts, k: Int, nproc: Int,
                      host: Seq[(String, (Double, String))], sessionS: Double): Unit = {
    val sc = spark.sparkContext
    val w = Workload(o.workload, o.seed)
    val dir = Paths.get(o.work, w.name).toString
    val input = Paths.get(dir, "input").toString
    // every call writes a fresh directory; all of them are removed only
    // after the run, so no file deletion overlaps a timed call
    var calls = 0
    def fresh(): String = { calls += 1; Paths.get(dir, s"out-$calls").toString }
    val trace = new Trace(s"${w.name}-seed${o.seed}-${ProcessHandle.current().pid()}", o.trace)
    val log = new TaskLog

    // set-up: three rounds, reported as their median
    val setupNs = (1 to 3).map { _ =>
      Files.delete(dir)
      val out = fresh()
      timeNs {
        trace.span("setup") {
          trace.span("input.generate")(w.writeInput(spark, input))
          trace.span("rules.compile")(w.compile())
          trace.span("warmup")(w.run(spark, input, out))
        }
      }
    }
    val program = w.compile()
    // After set-up the JIT is still compiling, on the same cores as the
    // tasks, and calls keep getting faster for a while: more untimed calls.
    val warmups = new ArrayBuffer[(Double, Long)] // (wall s, JIT ms) of each call
    trace.span("warmup") {
      val until = System.nanoTime() + WarmupBudgetNs
      while (System.nanoTime() < until) {
        val out = fresh()
        val j0 = Cpu.jitMs
        val ns = timeNs(w.run(spark, input, out))
        warmups += ((seconds(ns), Cpu.jitMs - j0))
      }
    }

    // timed calls, for `seconds`; a traced run interleaves untraced and
    // traced calls in the order U T T U, so a warm-up trend favours neither
    val reps = new ArrayBuffer[Rep]
    var out = ""
    val until = System.nanoTime() + o.seconds * 1000000000L
    while (reps.length < 3 || System.nanoTime() < until) {
      val traced = o.trace && (reps.length % 4 == 1 || reps.length % 4 == 2)
      out = fresh()
      val group = s"timed-${reps.length}"
      val parent = trace.nextId
      if (traced) sc.addSparkListener(log)
      var wall, cpu, jit = 0L
      val (_, heap) = Heap.peakDuring {
        val j0 = Cpu.jitMs
        val c0 = Cpu.processNs
        wall = timeNs {
          if (traced) trace.span("timed")(TaskLog.inGroup(sc, group)(w.run(spark, input, out)))
          else w.run(spark, input, out)
        }
        cpu = Cpu.processNs - c0
        jit = Cpu.jitMs - j0
      }
      val tasks = if (!traced) Nil else {
        TaskLog.drain(sc)
        sc.removeSparkListener(log)
        log.of(group)
      }
      tasks.foreach(t => trace.addEpochMs("spark.task", parent, t.launchMs, t.finishMs))
      reps += Rep(traced, wall, cpu, jit, heap, tasks)
    }

    val c = w.check(spark, out)
    if (!c.ok) throw new CheckFailed(
      s"${w.name} seed ${o.seed}: docs ${c.docs}, rows ${c.rows}, distinct ids ${c.distinct}, " +
        s"missing ${c.missing}, sample mismatches ${c.mismatches.length}/${c.sampled}" +
        c.mismatches.take(3).map("\n  " + _).mkString)

    val plain = reps.filterNot(_.traced).toSeq
    def docsPerS(rs: Seq[Rep]) = Stats.median(rs.map(r => w.docs / seconds(r.wallNs)))
    val endToEnd = Seq(
      "docs_per_s" -> (docsPerS(plain), "docs/s"),
      "cpu_us_per_doc" -> (Stats.median(plain.map(_.cpuNs / 1e3 / w.docs)), "us/doc"),
      "heap_peak_mib" -> (Stats.median(plain.map(_.heapBytes / 1048576.0)), "MiB"),
      "setup_s" -> (Stats.median(setupNs.map(seconds)), "s"))
    val failedFrac = c.failed.toDouble / c.docs

    val perLayer =
      if (!o.trace) Nil
      else layers(spark, w, program, input, fresh _, log, trace, reps.toSeq, k, docsPerS(plain),
        Files.dataFiles(out), Paths.get(o.work, "trace", trace.runId)) ++
        host :+ ("setup.session_s" -> (sessionS, "s"))

    val metrics = if (o.trace) perLayer else endToEnd
    (endToEnd ++ Seq("failed_frac" -> (failedFrac, "ratio")) ++ perLayer).foreach {
      case (name, (v, unit)) => println(f"$name%-38s $v%16.6f $unit")
    }
    println(s"check: ${c.rows} rows, ${c.distinct} distinct ids, ${c.missing} missing, " +
      s"${c.engineErrors} engine-error rows, ${c.sampled} sampled docs equal to a local ShadowEngine")
    val record = Json(Seq(
      "workload" -> w.name, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "k" -> k, "nproc" -> nproc, "java" -> System.getProperty("java.version"),
      "host" -> host.map { case (n, (v, _)) => n -> v },
      "setup_rounds_s" -> setupNs.map(seconds),
      "warmups" -> warmups.map { case (wall, jit) => Seq("wall_s" -> wall, "jit_ms" -> jit) },
      "reps" -> reps.map(r => Seq("traced" -> r.traced, "wall_s" -> seconds(r.wallNs),
        "cpu_s" -> seconds(r.cpuNs), "jit_ms" -> r.jitMs, "heap_peak_mib" -> r.heapBytes / 1048576.0)),
      "failed_frac" -> failedFrac,
      "metrics" -> (endToEnd ++ perLayer).map { case (n, (v, u)) => n -> Seq("value" -> v, "unit" -> u) }))
    java.nio.file.Files.write(Paths.get(o.work, "records.jsonl"), (record + "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    Files.delete(dir)
    println(s"record: $record")
    println(Json(Seq("correct" -> true, "attempted" -> c.docs, "failed" -> c.failed,
      "metrics" -> metrics.map { case (n, (v, u)) => n -> Seq("value" -> v, "unit" -> u) })))
  }

  /** The traced run's per-layer metrics. */
  private def layers(spark: SparkSession, w: Workload, program: graft.engine.RuleProgram,
                     input: String, fresh: () => String, log: TaskLog, trace: Trace, reps: Seq[Rep],
                     k: Int, untracedDocsPerS: Double, outFiles: Long,
                     traceDir: java.nio.file.Path): Seq[(String, (Double, String))] = {
    val traced = reps.filter(_.traced)
    def med(f: Rep => Double) = Stats.median(traced.map(f))
    def perDoc(f: TaskLog.Task => Long) = med(_.tasks.map(f).sum.toDouble / w.docs)
    val busyNs = perDoc(_.runMs) * 1e6
    val tracedDocsPerS = med(r => w.docs / seconds(r.wallNs))

    val compileMs = Stats.median((0 to 20).map(_ => timeNs(w.compile()) / 1e6).tail)
    spark.sparkContext.addSparkListener(log)
    val ledger = try trace.span("ledger")(Ledger.run(spark, w, input, fresh, log, trace, rounds = 2))
      finally spark.sparkContext.removeSparkListener(log)
    val resume = trace.span("resume")(resumeJob(spark, w, input, fresh, log, trace))
    val loops = trace.span("loop")(Loops.run(w, program, trace, passes = 3))
    val engine1t = loops.collectFirst { case ("engine.docs_per_s_1t", v, _) => v }.get
    val layerSum = ledger("write") // the ledger's layers telescope to its last job

    println(trace.write(traceDir))
    println(s"spans and layer table: $traceDir")
    Seq(
      "rules.compile_ms" -> (compileMs, "ms"),
      "spark.scan_ns_per_doc" -> (ledger("scan"), "ns/doc"),
      "spark.extract_ns_per_doc" -> (ledger("extract") - ledger("scan"), "ns/doc"),
      "spark.emit_ns_per_doc" -> (ledger("emit") - ledger("extract"), "ns/doc"),
      "write.ns_per_doc" -> (ledger("write") - ledger("emit"), "ns/doc"),
      "write.bytes_per_doc" -> (perDoc(_.bytesOut), "B/doc"),
      "write.files" -> (outFiles.toDouble, "count"),
      "write.rows_rewritten_frac" -> (resume.rowsFrac, "ratio"),
      "write.resume_docs_per_s" -> (resume.docsPerS, "docs/s"),
      "spark.task_p50_ms" -> (med(r => Stats.median(r.tasks.map(_.runMs.toDouble))), "ms"),
      "spark.task_max_ms" -> (med(r => r.tasks.map(_.runMs).max.toDouble), "ms"),
      "spark.tasks" -> (med(_.tasks.length.toDouble), "count"),
      "spark.idle_core_frac" -> (med(r => 1 - r.tasks.map(_.runMs).sum / (r.wallNs / 1e6 * k)), "ratio"),
      "spark.gc_ms_per_kdoc" -> (perDoc(_.gcMs) * 1000, "ms/kdoc"),
      "spark.core_efficiency" -> (untracedDocsPerS / (k * engine1t), "ratio")) ++
      loops.map { case (n, v, u) => n -> (v, u) } ++
      Seq(
        "ledger.residual_frac" -> (math.abs(layerSum - busyNs) / busyNs, "ratio"),
        "trace.overhead_frac" -> (1 - tracedDocsPerS / untracedDocsPerS, "ratio"))
  }

  final case class Resume(rowsFrac: Double, docsPerS: Double)

  /** A crash run, untimed, then the workload's call on the same path: the
    * rows that call writes over the table's docs, and its rate. Median of
    * two rounds after an untimed one. */
  private def resumeJob(spark: SparkSession, w: Workload, input: String, fresh: () => String,
                        log: TaskLog, trace: Trace): Resume = {
    val sc = spark.sparkContext
    sc.addSparkListener(log)
    val rounds = try (0 to 2).map { r =>
      val out = fresh()
      w.crash(spark, input, out)
      val group = s"resume-$r"
      val parent = trace.nextId
      val ns = timeNs(trace.span("resume.call")(TaskLog.inGroup(sc, group)(w.run(spark, input, out))))
      TaskLog.drain(sc)
      val tasks = log.of(group)
      tasks.foreach(t => trace.addEpochMs("spark.task", parent, t.launchMs, t.finishMs))
      Resume(tasks.map(_.recordsOut).sum.toDouble / w.docs, w.docs / seconds(ns))
    } finally sc.removeSparkListener(log)
    Resume(Stats.median(rounds.tail.map(_.rowsFrac)), Stats.median(rounds.tail.map(_.docsPerS)))
  }

  /** Shows the output check failing on one corrupted row and on one
    * missing row, and passing on the untouched table. */
  private def selfTest(spark: SparkSession, work: String): Unit = {
    val w = new ExtractWrite(seed = 7, docs = 3000)
    val dir = Paths.get(work, "self-test").toString
    Files.delete(dir)
    val input = s"$dir/input"
    val out = s"$dir/out"
    w.writeInput(spark, input)
    w.compile()
    w.run(spark, input, out)
    val clean = w.check(spark, out)
    require(clean.ok && clean.failed == 0, s"check fails on a correct table: $clean")

    val table = spark.read.parquet(out)
    val victim = graft.corpus.Corpus.docId(w.firstMega) // always in the sample
    table.withColumn("data_json",
      when(col("doc_id") === victim, concat(col("data_json"), lit(" "))).otherwise(col("data_json")))
      .write.parquet(s"$dir/corrupted")
    val corrupted = w.check(spark, s"$dir/corrupted")
    require(!corrupted.ok && corrupted.mismatches.length == 1,
      s"check missed one corrupted row: $corrupted")

    table.where(col("doc_id") =!= graft.corpus.Corpus.docId(w.firstIdx + 1)).write.parquet(s"$dir/missing")
    val missing = w.check(spark, s"$dir/missing")
    require(!missing.ok && missing.missing == 1 && missing.rows == w.docs - 1,
      s"check missed one missing row: $missing")
    Files.delete(dir)
    println("self-test: the check passes the written table and fails on one corrupted and on one missing row")
  }
}
