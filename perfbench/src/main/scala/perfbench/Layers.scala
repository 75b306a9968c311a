package perfbench

import graft.core.{Doc, Span, SpanKinds}
import graft.engine.{RuleProgram, ShadowEngine}
import graft.functions.ShadowExtractExpr
import graft.html.{Arena, HtmlParser, NamePool}
import graft.selector.SelectorMatcher
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** The ledger: cumulative Spark jobs on the workload's input. A job's cost
  * is the sum of its tasks' run time per doc; a layer is the difference
  * between two consecutive jobs. */
object Ledger {
  val jobs: Seq[String] = Seq("scan", "extract", "emit", "write")

  /** Median busy ns/doc of each ledger job over `rounds` interleaved rounds,
    * after one untimed round: each job has its own plan, and its first run
    * pays for that plan's code generation and JIT. */
  def run(spark: SparkSession, w: Workload, input: String, fresh: () => String, log: TaskLog,
          trace: Trace, rounds: Int): Map[String, Double] = {
    val sc = spark.sparkContext
    val busy = jobs.map(_ -> new ArrayBuffer[Double]).toMap
    for (r <- 0 to rounds; job <- jobs) {
      val out = fresh()
      val group = s"ledger-$job-$r"
      val parent = trace.nextId
      trace.span(s"ledger.$job") {
        TaskLog.inGroup(sc, group) {
          job match {
            case "scan" => scan(spark, input)
            case "extract" => w.extractJob(spark, input)
            case "emit" => w.emitJob(spark, input)
            case "write" => w.run(spark, input, out)
          }
        }
      }
      TaskLog.drain(sc)
      val tasks = log.of(group)
      tasks.foreach(t => trace.addEpochMs("spark.task", parent, t.launchMs, t.finishMs))
      if (r > 0) busy(job) += tasks.map(_.runMs).sum * 1e6 / w.docs
    }
    busy.map { case (job, xs) => job -> Stats.median(xs.toSeq) }
  }

  /** Reads the input and touches every field of every span, in the
    * benchmark's own `mapPartitions`. */
  private def scan(spark: SparkSession, input: String): Long =
    spark.read.parquet(input).select("doc_id", "spans").queryExecution.toRdd.mapPartitions { it =>
      var bytes = 0L
      it.foreach { row =>
        bytes += row.getUTF8String(0).numBytes()
        val spans = row.getArray(1)
        var i = 0
        while (i < spans.numElements()) {
          val s = spans.getStruct(i, 4)
          bytes += s.getUTF8String(0).numBytes() + s.getUTF8String(1).numBytes() +
            s.getUTF8String(2).numBytes() + s.getInt(3)
          i += 1
        }
      }
      Iterator.single(bytes)
    }.reduce(_ + _)
}

/** Single-thread loops over a fixed doc sample, calling each layer's entry
  * point directly. Each loop makes one warm-up pass and `passes` timed
  * passes; a doc's time is its median over the timed passes. */
object Loops {
  private final case class Stream(text: String, markers: ArrayBuffer[HtmlParser.MediaMarker])

  /** A doc's stream and media markers, assembled as `ShadowEngine.process`
    * assembles them. */
  private def assemble(d: Doc): Stream = {
    val sb = new java.lang.StringBuilder
    val markers = new ArrayBuffer[HtmlParser.MediaMarker]
    d.spans.sortBy(_.offset).foreach { sp =>
      if (sp.kind == SpanKinds.Media) markers += HtmlParser.MediaMarker(sb.length, sp.media_ref, sp.text)
      else sb.append(sp.text)
    }
    Stream(sb.toString, markers)
  }

  /** Per-doc ns (median over passes) and allocated bytes per doc. */
  private def timeEach(n: Int, passes: Int)(f: Int => Unit): (Array[Double], Double) = {
    (0 until n).foreach(f)
    val ns = Array.ofDim[Long](passes, n)
    val a0 = Cpu.threadAllocatedBytes
    for (p <- 0 until passes; i <- 0 until n) {
      val t0 = System.nanoTime()
      f(i)
      ns(p)(i) = System.nanoTime() - t0
    }
    val alloc = (Cpu.threadAllocatedBytes - a0).toDouble / (passes.toLong * n)
    ((0 until n).map(i => Stats.median(ns.map(_(i).toDouble).toSeq)).toArray, alloc)
  }

  private def mean(xs: Array[Double]): Double = xs.sum / xs.length

  def run(w: Workload, program: RuleProgram, trace: Trace, passes: Int): Seq[(String, Double, String)] = {
    val docs = w.loopDocs
    val streams = docs.map(assemble).toArray
    val n = streams.length
    val pool = new NamePool
    val arena = new Arena("")

    val (parseNs, parseAlloc) = trace.span("loop.html.parse") {
      timeEach(n, passes)(i => HtmlParser.parse(streams(i).text, streams(i).markers, pool, arena))
    }
    val nodes = streams.map(s => HtmlParser.parse(s.text, s.markers, pool, arena).size.toDouble)

    // every compiled rule against every element of the parsed arena
    var calls = 0L
    var hits = 0L
    val selectors = program.rules.map(_.selector)
    val matchNs = trace.span("loop.selector.match") {
      (0 until passes).map { _ =>
        var ns = 0L
        streams.foreach { s =>
          val a = HtmlParser.parse(s.text, s.markers, pool, arena)
          val elems = (0 until a.size).filter(a.kind(_) == a.nElem).toArray
          val t0 = System.nanoTime()
          selectors.foreach { sel =>
            var e = 0
            while (e < elems.length) {
              if (SelectorMatcher.matches(a, elems(e), sel)) hits += 1
              e += 1
            }
          }
          ns += System.nanoTime() - t0
          calls += selectors.length.toLong * elems.length
        }
        ns.toDouble
      }.sum
    }

    val engine = new ShadowEngine(program)
    val (engineNs, engineAlloc) = trace.span("loop.engine.processStreamAcc") {
      timeEach(n, passes)(i => engine.processStreamAcc(streams(i).text, streams(i).markers))
    }
    val jsonBytes = streams.map(s => engine.processStreamAcc(s.text, s.markers).dataJson.getBytes(UTF_8).length.toDouble)

    // the SQL expression as a task evaluates it: one instance, one row per doc
    val spansType = ArrayType(Encoders.product[Span].schema, containsNull = true)
    val expr = ShadowExtractExpr(BoundReference(0, spansType, nullable = false), Literal(w.exprRules))
    val rows = docs.map { d =>
      InternalRow(new GenericArrayData(d.spans.map { s =>
        InternalRow(UTF8String.fromString(s.kind), UTF8String.fromString(s.text),
          UTF8String.fromString(s.media_ref), s.offset)
      }.toArray[Any]))
    }.toArray
    val (exprNs, exprAlloc) = trace.span("loop.functions.shadow_extract") {
      timeEach(n, passes)(i => expr.eval(rows(i)))
    }

    val engineMean = mean(engineNs)
    Seq(
      ("html.parse_ns_per_doc", mean(parseNs), "ns/doc"),
      ("html.nodes_per_doc", mean(nodes), "count"),
      ("html.alloc_bytes_per_doc", parseAlloc, "B/doc"),
      ("selector.match_ns_per_call", matchNs / calls, "ns/call"),
      ("selector.hit_ratio", hits.toDouble / calls, "ratio"),
      ("engine.ns_per_doc_p50", Stats.quantile(engineNs.toSeq, 0.5), "ns/doc"),
      ("engine.ns_per_doc_p99", Stats.quantile(engineNs.toSeq, 0.99), "ns/doc"),
      ("engine.ns_per_doc_max", engineNs.max, "ns/doc"),
      ("engine.samples", n.toDouble, "count"),
      ("engine.self_ns_per_doc", engineMean - mean(parseNs), "ns/doc"),
      ("engine.alloc_bytes_per_doc", engineAlloc, "B/doc"),
      ("engine.data_json_bytes_per_doc", mean(jsonBytes), "B/doc"),
      ("engine.docs_per_s_1t", 1e9 / engineMean, "docs/s"),
      ("functions.shadow_extract_ns_per_row", mean(exprNs), "ns/row"),
      ("functions.alloc_bytes_per_row", exprAlloc, "B/row"))
  }
}

/** The benchmark's own work directories. */
object Files {
  import java.nio.file.{Files => F, Path, Paths}

  private def walk[T](path: String)(f: java.util.stream.Stream[Path] => T): T = {
    val s = F.walk(Paths.get(path))
    try f(s) finally s.close()
  }

  def delete(path: String): Unit =
    if (F.exists(Paths.get(path)))
      walk(path)(_.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => F.delete(p)))

  /** Parquet data files under `path`. */
  def dataFiles(path: String): Long =
    walk(path)(_.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }.count())
}
