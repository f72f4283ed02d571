package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** The timed record of one op execution. Phase times are self times and
  * add up to `wallS`: construct is the library call, plan is the noop
  * write's analysis + optimization + physical planning (from its
  * QueryPlanningTracker; traced runs only, else folded into execute),
  * execute is the rest of the write. */
final case class OpRun(seq: Long, pass: Int, op: Op, constructS: Double,
    planS: Double, executeS: Double, error: Option[String]) {
  def wallS: Double = constructS + planS + executeS
}

/** Runs one workload in one process: session start, a warm-up of two
  * passes (one that executes every op through its output check, one
  * through the noop sink), then the timed passes that fill `--seconds`
  * at the workload's nominal pass time. Set-up is everything from JVM
  * start to the first timed op except computing the scan twins. Writes `result.json`
  * (the metrics), `failures.jsonl` and, traced, `spans.jsonl` into
  * `--out`.
  *
  * {{{
  * PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --data <corpus dir> --out <run dir>
  * }}} */
object PerfBench {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--data"),
      need("--out"))
  }

  def session(out: String): SparkSession = {
    val cores = Host.nproc
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/tmp")
      .config("spark.hadoop.hadoop.tmp.dir", s"$out/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Linear-interpolated percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  /** The highest whole percentile of `n` samples with at least ten
    * samples above it (0 when there are ten or fewer). */
  def tailPercentile(n: Int): Int =
    if (n <= 10) 0 else math.floor(100.0 * (n - 10) / n).toInt

  def time[A](body: => A): (A, Double) = {
    val t = System.nanoTime; val a = body
    (a, (System.nanoTime - t) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try { run(o); 0 }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(o: Opts): Unit = {
    new File(o.out, "tmp").mkdirs()
    val wl = Workloads.byName(o.workload)
    val window = new Host.Window
    val (spark, sessionS) = time(session(o.out))
    val rec = if (o.trace) {
      val r = new Recorder; r.install(spark); Some(r)
    } else None
    val runner = new Runner(spark, rec, o)
    try {
      // warm-up: the checking pass, then one noop pass that lets JIT
      // compilation settle (the first noop pass burns ~1.5x the CPU of
      // later ones)
      val (_, warmS) = time {
        runner.runPass(wl, 0, check = true)
        runner.runPass(wl, 1, check = false)
      }
      window.sample()
      val firstOpS = (System.currentTimeMillis() - java.lang.management
        .ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      System.err.println(f"[perfbench] session $sessionS%.2f s, warm-up " +
        f"$warmS%.2f s, checks ${runner.checkS}%.2f s")
      // a fixed pass count per `--seconds`: JIT keeps speeding passes up
      // for a while, so a count that followed the clock would tie the
      // medians to the box's speed
      val t0 = System.nanoTime
      val passes = (1 to wl.passesFor(o.seconds)).map { i =>
        val r = runner.runPass(wl, i + 1, check = false)
        window.sample()
        r
      }
      val measuredS = (System.nanoTime - t0) / 1e9
      runner.writeResult(passes.toSeq, firstOpS - runner.checkS, warmS,
        sessionS, firstOpS, measuredS, window)
    } finally {
      runner.close()
      graft.RelationalQueries.cleanupTmpSinks(spark)
      spark.stop()
    }
  }

  /** One pass: its op runs, process CPU seconds and (traced) layer
    * counters. */
  final case class PassResult(pass: Int, runs: Seq[OpRun], cpuS: Double,
      layers: Map[String, Double])
}

/** Times ops, checks outputs, and records spans and failures. */
final class Runner(spark: SparkSession, rec: Option[Recorder],
    o: PerfBench.Opts) {
  import PerfBench._

  private val sc = spark.sparkContext
  private var seq = 0L
  private val failures = new PrintWriter(new File(o.out, "failures.jsonl"))
  private val spans = rec.map(_ =>
    new PrintWriter(new File(o.out, "spans.jsonl")))
  private val results = new File(o.out, "results")
  private val checkedRows = mutable.ArrayBuffer.empty[String]
  /** Ops whose checked output was wrong: each of their runs fails. */
  private val wrong = mutable.Set.empty[String]
  private val allRuns = mutable.ArrayBuffer.empty[OpRun]
  /** Seconds spent on twins and trace extras (outside every op's time). */
  var checkS = 0.0
  private val guarded = mutable.Set.empty[String]

  def close(): Unit = { failures.close(); spans.foreach(_.close()) }

  private def fail(op: Op, pass: Int, cls: String, msg: String,
      detail: String = ""): Unit = {
    failures.println(Json(mutable.LinkedHashMap(
      "workload" -> o.workload, "op" -> op.name, "seed" -> o.seed,
      "pass" -> pass, "class" -> cls,
      "message" -> msg.linesIterator.find(_.trim.nonEmpty).getOrElse(""),
      "detail" -> detail)))
    failures.flush()
  }

  /** Run, time and (traced) attribute one op. A checking pass (the
    * warm-up) executes each op through its check instead of the noop
    * sink: a registry row writes its whole result for the DuckDB oracle,
    * a probe collects its whole result for the scan-twin compare. */
  def runOp(op: Op, pass: Int, check: Boolean): OpRun = {
    seq += 1
    val s = seq
    rec.foreach(_.currentOp = s.toString)
    var df: Option[DataFrame] = None
    var cS, pS, eS = 0.0
    var err: Option[String] = None
    var before = Map.empty[String, Long]
    var write: Option[org.apache.spark.sql.execution.QueryExecution] = None
    var got: Option[Twins.Rows] = None
    try {
      sc.setLocalProperty(Recorder.SpanKey, s"$s:construct")
      val t0 = System.nanoTime
      df = op.construct(spark)
      val t1 = System.nanoTime
      sc.setLocalProperty(Recorder.SpanKey, s"$s:execute")
      if (rec.isDefined) df.foreach(d => before =
        Recorder.phasesMs(d.queryExecution))
      df.foreach { d =>
        if (!check) d.write.format("noop").mode("overwrite").save()
        else if (op.kind == "row") {
          d.coalesce(1).write.mode("overwrite")
            .parquet(new File(results, op.name).getPath)
          if (SparkEntry.oracleSql.contains(op.name)) checkedRows += op.name
          else {
            wrong += op.name
            fail(op, pass, "NoOracle", s"${op.name} has no oracle SQL")
          }
        } else got = Some(Twins.rows(d))
      }
      val t2 = System.nanoTime
      cS = (t1 - t0) / 1e9
      eS = (t2 - t1) / 1e9
    } catch { case NonFatal(e) =>
      err = Some(e.getClass.getName)
      fail(op, pass, e.getClass.getName, String.valueOf(e.getMessage))
    } finally {
      sc.setLocalProperty(Recorder.SpanKey, null)
      rec.foreach(_.currentOp = "")
    }
    rec.foreach { r =>
      org.apache.spark.perfbench.Bus.drain(sc)
      write = r.takeWrite()
      val planMs = (write, df) match {
        case (Some(q), Some(d)) =>
          val after = Recorder.phasesMs(q)
          if (q.tracker eq d.queryExecution.tracker)
            Recorder.sumMs(Recorder.deltaMs(after, before))
          else Recorder.sumMs(after)
        case _ => 0L
      }
      pS = math.min(planMs / 1e3, eS)
      eS -= pS
    }
    val run = OpRun(s, pass, op, cS, pS, eS, err)
    checkS += time {
      for (g <- got; twin <- op.twin) compareTwin(op, pass, g, twin)
      if (rec.isDefined) span(run, df, write)
    }._2
    allRuns += run
    run
  }

  /** Compare a probe's collected result with its scan-per-run twin. */
  private def compareTwin(op: Op, pass: Int, got: Twins.Rows,
      twin: SparkSession => DataFrame): Unit =
    try Twins.firstDifference(got, Twins.rows(twin(spark))).foreach { d =>
      wrong += op.name
      fail(op, pass, "WrongResult",
        s"${op.name} differs from its scan-per-run twin", d)
    } catch { case NonFatal(e) =>
      wrong += op.name
      fail(op, pass, e.getClass.getName,
        s"twin failed: ${e.getMessage}")
    }

  private def span(run: OpRun, df: Option[DataFrame],
      write: Option[org.apache.spark.sql.execution.QueryExecution])
      : Unit = rec.foreach { r =>
    val c = r.spanCounts(s"${run.seq}:construct")
    val e = r.spanCounts(s"${run.seq}:execute")
    val extra = mutable.LinkedHashMap.empty[String, Any]
    // once per op, on its first noop run: the full-plan guard, and what
    // the legacy count() action costs beside the noop sink
    if (write.isDefined && guarded.add(run.op.name)) df.foreach { d =>
      extra("full_plan") = FullPlan.check(d, write)
      extra("count_s") = time(d.count())._2
    }
    spans.foreach(_.println(Json(mutable.LinkedHashMap(
      "seq" -> run.seq, "pass" -> run.pass, "op" -> run.op.name,
      "module" -> run.op.module, "kind" -> run.op.kind,
      "wall_s" -> run.wallS, "ok" -> run.error.isEmpty,
      "construct" -> layer(run.constructS, c),
      "plan" -> Map("s" -> run.planS),
      "execute" -> layer(run.executeS, e),
      "jobs" -> r.jobsOf(run.seq).map(j => mutable.LinkedHashMap(
        "job" -> j.jobId, "phase" -> j.span.dropWhile(_ != ':').drop(1),
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "ok" -> j.ok)),
      "stream" -> r.streamsOf(run.seq).map(st => Map(
        "batches" -> st.batches, "trigger_s" -> st.triggerMs / 1e3))
    ) ++ extra)))
  }

  private def layer(secs: Double, c: Counts): Map[String, Any] = Map(
    "s" -> secs, "jobs" -> c.jobs, "stages" -> c.stages,
    "tasks" -> c.tasks, "task_cpu_s" -> c.taskCpuNs / 1e9,
    "task_run_s" -> c.taskRunMs / 1e3, "shuffle_write_bytes" ->
      c.shuffleWrite, "spill_bytes" -> c.spill)

  def runPass(wl: Workload, pass: Int, check: Boolean): PassResult = {
    val cpu0 = Host.cpuSeconds()
    val seq0 = seq + 1
    val filesAtStart =
      if (rec.isDefined) Layers.dataFiles(Layers.warehouse(spark))
      else Set.empty[String]
    val ops = wl.pass(spark, o.data, o.seed, pass)
    val runs = ops.map(op => runOp(op, pass, check))
    val cpuS = Host.cpuSeconds() - cpu0
    val layers = rec.map(r => Layers.ofPass(r, runs, spark, wl,
      filesAtStart)).getOrElse(Map.empty)
    wl.endPass(spark, pass)
    rec.foreach(_.forgetBefore(seq0))
    PassResult(pass, runs, cpuS, layers)
  }

  def writeResult(passes: Seq[PassResult], setupS: Double, warmS: Double,
      sessionS: Double, firstOpS: Double, measuredS: Double,
      window: Host.Window): Unit = {
    val timed = passes.flatMap(_.runs)
    val lat = timed.filter(_.error.isEmpty).map(_.wallS)
    val tailP = tailPercentile(lat.size)
    val perOp = timed.filter(_.error.isEmpty).groupBy(_.op.name)
      .map { case (k, rs) => k -> median(rs.map(_.wallS)) }
    def failed(r: OpRun) = r.error.nonEmpty || wrong(r.op.name)
    val attempted = allRuns.size
    val nFailed = allRuns.count(failed)
    def p50(kind: String) = median(timed.filter(r =>
      r.op.kind == kind && r.error.isEmpty).map(_.wallS))
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "wall_s" -> median(passes.map(_.runs.map(_.wallS).sum)),
      "op_p50_s" -> median(lat),
      "op_tail_s" -> (if (perOp.isEmpty) 0.0 else perOp.values.max),
      "cpu_s" -> median(passes.map(_.cpuS)),
      "peak_rss_mb" -> Host.peakRssMb())
    val layerNames = passes.headOption.map(_.layers.keys.toSeq)
      .getOrElse(Nil)
    val layers = mutable.LinkedHashMap[String, Any]()
    layerNames.foreach(k => layers(k) = median(passes.map(_.layers(k))))
    layers("trace.wall_s") = e2e("wall_s")
    layers("probe_p50_s") = p50("probe")
    layers("mutation_p50_s") = p50("mutation")
    layers("ops_failed_frac") = nFailed.toDouble / math.max(1, attempted)
    layers("host.nproc") = Host.nproc.toDouble
    layers("host.steal_s") = window.stealS
    layers("host.load1_max") = window.load1Max
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "seconds" -> o.seconds, "measured_s" -> measuredS,
      "passes" -> passes.size, "ops_per_pass" ->
        passes.headOption.map(_.runs.size).getOrElse(0),
      "attempted" -> attempted, "failed" -> nFailed,
      "checked_rows" -> checkedRows.toSeq,
      "op_runs" -> allRuns.groupBy(_.op.name).map { case (k, v) =>
        k -> v.size },
      "end_to_end" -> e2e, "per_layer" -> layers,
      "op_pooled_tail" -> Map("percentile" -> tailP,
        "samples" -> lat.size, "value" -> percentile(lat, tailP)),
      "warmup_pass_s" -> warmS, "check_s" -> checkS,
      "session_s" -> sessionS, "jvm_to_first_timed_op_s" -> firstOpS,
      "corpus" -> Map("dir" -> o.data, "bytes" -> Layers.dirBytes(
        new File(o.data))._1, "in_memory" -> true),
      "host" -> Map("nproc" -> Host.nproc, "steal_s" -> window.stealS,
        "load1_max" -> window.load1Max),
      "pass_wall_s" -> passes.map(_.runs.map(_.wallS).sum),
      "pass_cpu_s" -> passes.map(_.cpuS),
      "per_op_p50_s" -> perOp)
    Files.writeString(Paths.get(o.out, "result.json"), Json(out))
    if (checkedRows.nonEmpty) Files.writeString(
      Paths.get(o.out, "results", "oracle_sql.json"),
      Json(checkedRows.map(n => n -> SparkEntry.oracleSql(n)).toMap))
  }
}

/** Output equality of an op and its scan-per-run twin. */
object Twins {
  /** Sorted column names and the sorted rows, rendered as strings. */
  type Rows = (Seq[String], Seq[String])

  private def norm(v: Any): Any = v match {
    case d: Double => BigDecimal(d).setScale(6,
      BigDecimal.RoundingMode.HALF_UP)
    case f: Float => norm(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(norm)
    case r: Row => r.toSeq.map(norm)
    case other => other
  }

  /** Collect a frame's whole result: columns by name, doubles to 6
    * decimals, rows sorted. */
  def rows(df: DataFrame): Rows = {
    val cols = df.columns.sorted.toSeq
    (cols, df.select(cols.map(df.col): _*).collect()
      .map(r => norm(r).toString).sorted.toSeq)
  }

  /** None when both hold the same columns and multiset of rows, else
    * the first difference. */
  def firstDifference(got: Rows, want: Rows): Option[String] =
    if (got._1 != want._1)
      Some(s"columns ${got._1.mkString(",")} vs ${want._1.mkString(",")}")
    else if (got._2 == want._2) None
    else {
      val (a, b) = (got._2, want._2)
      val i = a.zip(b).indexWhere { case (x, y) => x != y }
      Some(if (i >= 0) s"row $i: got ${a(i)}, twin ${b(i)}"
        else s"row count: got ${a.size}, twin ${b.size}")
    }
}
