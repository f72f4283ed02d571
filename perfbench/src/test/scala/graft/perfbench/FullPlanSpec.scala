package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The full-plan guard: every timed op produces its whole result. The
  * noop write must run the op DataFrame's own optimized plan, never the
  * pruned plan a `count()` action leaves (for q36 and q84 that plan is a
  * parquet row count: `Aggregate count(1) <- Relation`). */
class FullPlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val data = new File("data/sf0.01").getAbsolutePath
  private val out = Files.createTempDirectory(
    new File("target").getAbsoluteFile.toPath, "fullplan-spec").toFile
  private lazy val spark: SparkSession = PerfBench.session(out.getPath)

  override def afterAll(): Unit = spark.stop()

  private def noopWrite(name: String) = {
    val rec = new Recorder
    rec.install(spark)
    val df = SparkEntry.queries(name)(spark, data)
    df.write.format("noop").mode("overwrite").save()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    (df, rec.takeWrite())
  }

  for (name <- Seq("q93", "q36_langid", "q84_i8"))
    test(s"$name: the noop write runs the full plan, count() does not") {
      val (df, write) = noopWrite(name)
      assert(write.isDefined, "no noop write was captured")
      assert(FullPlan.check(df, write))
      val full = FullPlan.expressions(FullPlan.writtenQuery(write.get).get)
      val counted = FullPlan.expressions(
        df.groupBy().count().queryExecution.optimizedPlan)
      assert(full > counted, s"$full expressions vs count()'s $counted")
    }

  for (w <- Seq("curation", "index_maintain"))
    test(s"$w: every timed op runs its full plan") {
      val o = PerfBench.Opts(w, seed = 7, seconds = 0, trace = true,
        data = data, out = new File(out, w).getPath)
      new File(o.out).mkdirs()
      val rec = new Recorder
      rec.install(spark)
      val runner = new Runner(spark, Some(rec), o)
      val pass = try runner.runPass(Workloads.byName(w), 1, check = false)
        finally runner.close()
      assert(pass.runs.forall(_.error.isEmpty),
        Source.fromFile(new File(o.out, "failures.jsonl")).mkString)
      val spans = Source.fromFile(new File(o.out, "spans.jsonl"))
        .getLines().toSeq
      val withDf = pass.runs.filter(_.op.kind != "mutation")
      assert(withDf.nonEmpty)
      assert(spans.count(_.contains("\"full_plan\":true")) == withDf.size,
        spans.filter(_.contains("\"full_plan\":false")).mkString("\n"))
    }
}
