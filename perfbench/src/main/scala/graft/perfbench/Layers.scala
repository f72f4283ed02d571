package graft.perfbench

import java.io.File

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution

/** Per-pass layer metrics of a traced run. */
object Layers {
  /** Library modules whose public functions the ops call. */
  val modules: Seq[String] =
    Seq("textanalysis", "dedup", "similarity", "curation")

  /** (bytes, files) of every regular file under `dir`. */
  def dirBytes(dir: File): (Long, Long) =
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .foldLeft((0L, 0L)) { case ((b, n), f) =>
        if (f.isDirectory) { val (b2, n2) = dirBytes(f); (b + b2, n + n2) }
        else (b + f.length, n + 1)
      }

  /** Paths of the data files under `dir` (checksums and markers aside). */
  def dataFiles(dir: File): Set[String] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSet
      .flatMap { (f: File) =>
        if (f.isDirectory) dataFiles(f)
        else if (f.getName.startsWith(".") || f.getName.startsWith("_"))
          Set.empty[String]
        else Set(f.getPath)
      }

  def warehouse(spark: SparkSession): File =
    new File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)

  def ofPass(r: Recorder, runs: Seq[OpRun], spark: SparkSession,
      wl: Workload, filesAtStart: Set[String]): Map[String, Double] = {
    val c = new Counts; val e = new Counts
    runs.foreach { run =>
      c += r.spanCounts(s"${run.seq}:construct")
      e += r.spanCounts(s"${run.seq}:execute")
    }
    val streams = runs.flatMap(run => r.streamsOf(run.seq).map(run -> _))
    val triggerS = streams.map(_._2.triggerMs).sum / 1e3
    val streamCallS = streams.map(_._1.constructS).sum
    val execS = runs.map(_.executeS).sum
    val wh = warehouse(spark)
    val (idxBytes, idxFiles) = dirBytes(wh)
    val gens = wl.generationTables(spark).map(t =>
      Try(graft.pipeline.MergeTables.generationCount(spark, t))
        .getOrElse(0L)).sum
    val written = c.bytesWritten + e.bytesWritten
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val base = Map[String, Double](
      "construct.s" -> runs.map(_.constructS).sum,
      "construct.jobs" -> c.jobs.toDouble,
      "construct.tasks" -> c.tasks.toDouble,
      "construct.task_cpu_s" -> c.taskCpuNs / 1e9,
      "plan.s" -> runs.map(_.planS).sum,
      "execute.s" -> execS,
      "execute.jobs" -> e.jobs.toDouble,
      "execute.stages" -> e.stages.toDouble,
      "execute.tasks" -> e.tasks.toDouble,
      "execute.task_cpu_s" -> e.taskCpuNs / 1e9,
      "execute.task_run_s" -> e.taskRunMs / 1e3,
      "execute.core_util" -> ratio(e.taskRunMs / 1e3, execS * Host.nproc),
      "execute.sched_wait_s" -> e.schedWaitMs / 1e3,
      "execute.shuffle_write_bytes" -> e.shuffleWrite.toDouble,
      "execute.shuffle_read_bytes" -> e.shuffleRead.toDouble,
      "execute.spill_bytes" -> e.spill.toDouble,
      "execute.gc_s" -> e.gcMs / 1e3,
      "execute.input_rows" -> e.inputRows.toDouble,
      "execute.tasks_failed" -> e.tasksFailed.toDouble,
      "stream.trigger_s" -> triggerS,
      "stream.lifecycle_s" -> math.max(0.0, streamCallS - triggerS),
      "stream.batches" -> streams.map(_._2.batches).sum.toDouble,
      "storage.bytes_written" -> written.toDouble,
      "storage.files_written" ->
        (dataFiles(wh) -- filesAtStart).size.toDouble,
      "storage.index_bytes" -> idxBytes.toDouble,
      "storage.index_files" -> idxFiles.toDouble,
      "storage.generations" -> gens.toDouble,
      "write_amp" -> ratio(written.toDouble, wl.ingestedBytes.toDouble),
      "space_amp" -> ratio(idxBytes.toDouble, wl.liveBytes.toDouble))
    val perModule = modules.flatMap { m =>
      val rs = runs.filter(_.op.module == m)
      Seq(s"$m.construct_s" -> rs.map(_.constructS).sum,
        s"$m.plan_s" -> rs.map(_.planS).sum,
        s"$m.execute_s" -> rs.map(_.executeS).sum)
    }
    base ++ perModule
  }
}

/** The full-plan guard: the noop write must run the op's whole
  * optimized plan, never a plan the sink's action pruned (what
  * `count()` does: Catalyst drops every column the row count does not
  * need, down to a parquet row count for some rows). */
object FullPlan {
  /** The query under a captured noop write. */
  def writtenQuery(write: QueryExecution): Option[LogicalPlan] =
    write.optimizedPlan match {
      case w: V2WriteCommand => Some(w.query)
      case _ => None
    }

  /** True when the write ran exactly the op DataFrame's own optimized
    * plan. */
  def check(df: DataFrame, write: Option[QueryExecution]): Boolean =
    write.flatMap(writtenQuery).exists(q =>
      q.canonicalized == df.queryExecution.optimizedPlan.canonicalized)

  /** Expression count of a plan — how much work survives optimization. */
  def expressions(plan: LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(_.collect { case x => x }
      .size).sum }.sum
}
