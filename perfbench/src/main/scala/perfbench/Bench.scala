package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

import graft.GraftSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Runs one workload and prints one JSON result line.
  *
  * Usage: perfbench.Bench --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> [--trace-dir <dir>]
  *
  * Set-up is timed `setupRounds` times, each a fresh session plus one
  * warm-up round; after `warmRounds` more untimed rounds, the timed rounds
  * run in the last session until `--seconds` have passed (at least
  * `minRounds`). A timed round reports its CPU time, the JIT compiler's
  * left out (see [[JvmMeter]]). With `--trace 1` the timed rounds run
  * inside spans, with full listeners, and one more round goes through
  * the layer functions one span each.
  */
object Bench {
  /** Spans the traced run opens, each reported with these counters. */
  val SpanNames: Seq[String] = Seq("pass", "cli.read", "wikitext.tokens",
    "tfidfops.tf", "tfidfops.idf", "tfidfops.join", "tfidfops.task1",
    "compatio.write", "dedup.index_build", "streaming.query")
  val SpanCounters: Seq[(String, String)] = Seq("jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "shuffle_write_bytes" -> "bytes",
    "shuffle_read_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "task_cpu_s" -> "s", "gc_s" -> "s", "outside_jobs_s" -> "s")

  /** Every per-layer metric with its unit, in output order. A layer a
    * workload does not reach reports 0. */
  val LayerMetrics: Seq[(String, String)] =
    Seq("trace.cpu_s" -> "s", "trace.docs_per_s" -> "docs/s",
      "jvm.jit_s" -> "s", "codegen.compiles" -> "count") ++
      SpanNames.filter(_ != "pass").map(n => s"${n}_s" -> "s") ++
      Seq("compatio.files" -> "count", "compatio.bytes" -> "bytes",
        "streaming.batches" -> "count", "streaming.trigger_ms" -> "ms",
        "streaming.add_batch_ms" -> "ms", "streaming.planning_ms" -> "ms",
        "streaming.wal_commit_ms" -> "ms") ++
      SpanNames.flatMap(n => SpanCounters.map { case (c, u) => s"$n.$c" -> u })

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Workloads.Names.contains(workload), s"unknown workload '$workload'")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    // registered per session state, so queries of derived sessions report too
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      classOf[BatchListener].getName)
    val began = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench: ${(System.nanoTime() - began) / 1e9}%.1f s: $what")
    val w = Workloads(workload, seed, new File(work, "input"))
    phase("inputs and reference made")
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = if (trace) Some(new Tracer) else None

    var attempted = 0
    var failed = 0
    var wrong = false
    val roundMs = ArrayBuffer.empty[Double]
    val roundCost = ArrayBuffer.empty[JvmMeter.Reading]
    var outs = 0
    def count(ops: Vector[Boolean]): Boolean = {
      attempted += ops.size
      failed += ops.count(!_)
      ops.forall(identity)
    }
    /** One round; returns its program wall time when every op passed. */
    def round(spark: SparkSession, timedRound: Boolean): Option[Double] = {
      outs += 1
      val out = new File(work, s"out/$outs")
      val cost0 = JvmMeter.read()
      try {
        val (_, ms) = Workloads.timed(w.run(spark, out, tracer.filter(_ => timedRound)))
        ListenerDrain.drain(spark.sparkContext)
        val cost = JvmMeter.read() - cost0
        if (!count(w.ops(spark, out))) { wrong = true; None }
        else {
          if (timedRound) { roundMs += ms; roundCost += cost }
          Some(ms)
        }
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          attempted += w.opsPerRound; failed += w.opsPerRound
          None
      } finally {
        // the program leaves frames cached; a later round over the same
        // input must not be served from them
        spark.catalog.clearCache()
        deleteTree(out)
      }
    }

    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var eng: EngineListener = null
    for (i <- 0 until w.setupRounds) {
      if (spark != null) spark.stop()
      val (s, startMs) = Workloads.timed(GraftSession.local(s"perfbench-$workload", cores))
      spark = s
      if (trace) {
        eng = new EngineListener
        spark.sparkContext.addSparkListener(eng)
      }
      round(spark, timedRound = false).foreach(ms => setups += (startMs + ms) / 1e3)
      phase(f"set-up ${i + 1}: session ${startMs / 1e3}%.2f s, with warm-up round " +
        setups.lastOption.fold("failed")(s => f"$s%.2f s"))
    }

    (0 until w.warmRounds).foreach(_ => round(spark, timedRound = false))
    phase(s"${w.warmRounds} warm rounds")
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds < w.minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      round(spark, timedRound = true)
      rounds += 1
    }
    val docsPerS = w.docs / (Stats.median(roundMs.toSeq) / 1e3)
    val cpuS = Stats.median(roundCost.map(_.programS).toSeq)
    def show(xs: Iterable[Double]) = xs.map(x => f"$x%.2f").mkString(" ")
    phase(s"$rounds timed rounds: ${roundMs.map(_.round).mkString(" ")} ms; " +
      s"CPU ${show(roundCost.map(_.programS))} s, JIT ${show(roundCost.map(_.jitS))} s; " +
      f"$docsPerS%.1f docs/s")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", Stats.median(setups.toSeq), "s"),
        ("cpu_s", cpuS, "s"))
      case Some(tr) =>
        outs += 1
        val out = new File(work, s"out/$outs")
        try {
          val ops = w.layered(spark, out, tr)
          if (!count(ops)) wrong = true
        } catch {
          case NonFatal(e) =>
            e.printStackTrace()
            attempted += w.opsPerRound; failed += w.opsPerRound
        } finally deleteTree(out)
        ListenerDrain.drain(spark.sparkContext)
        val (jobs, stages, tasks) = eng.snapshot
        val spans = tr.spans
        val bySpan = SpanNames.flatMap { n =>
          val mine = spans.filter(_.name == n)
          if (mine.isEmpty) Nil
          else (s"${n}_s" -> Stats.median(mine.map(_.seconds))) +:
            SpanCounters.map { case (c, _) =>
              s"$n.$c" -> Stats.median(mine.map(s => Tracer.counters(s, jobs, stages, tasks)(c)))
            }
        }.toMap
        val got = bySpan ++ w.layerMetrics ++ Map("trace.cpu_s" -> cpuS,
          "trace.docs_per_s" -> docsPerS,
          "jvm.jit_s" -> Stats.median(roundCost.map(_.jitS).toSeq),
          "codegen.compiles" -> Stats.median(roundCost.map(_.codegen.toDouble).toSeq))
        a.get("trace-dir").foreach(d => TraceRecord.write(new File(d),
          s"$workload-seed$seed", spans, LayerMetrics.map(_._1).map(k => k -> got.getOrElse(k, 0.0))))
        LayerMetrics.map { case (k, u) => (k, got.getOrElse(k, 0.0), u) }
    }
    spark.stop()
    phase("done")

    val ok = metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    println(Json.result(correct = !wrong && ok, attempted, failed,
      metrics.map { case (k, v, u) => (k, if (v.isNaN || v.isInfinite) 0.0 else v, u) }))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) =>
        s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}"""
      }.mkString(", ") + "}}"
}

/** The traced run's record: every span and the per-layer metrics, written
  * once when the run ends. */
object TraceRecord {
  def write(dir: File, name: String, spans: Seq[Tracer.Span],
            metrics: Seq[(String, Double)]): Unit = {
    dir.mkdirs()
    val w = new java.io.PrintWriter(new File(dir, s"$name.json"), "UTF-8")
    try {
      w.println("{\"spans\": [")
      w.println(spans.map { s =>
        s"""  {"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent.fold("null")(_.toString)}, """ +
          s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "seconds": ${s.seconds}}"""
      }.mkString(",\n"))
      w.println("], \"metrics\": {")
      w.println(metrics.map { case (k, v) => s"  ${Json.str(k)}: ${Json.num(v)}" }.mkString(",\n"))
      w.println("}}")
    } finally w.close()
  }
}
