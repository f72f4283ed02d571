package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Similarity

/** Job-count budget of the persisted dense index's lifecycle: the
  * one-shard build, one stream-append micro-batch and a probe
  * (construction and execution), counted with a SparkListener in this
  * spec's own session. Job counts are deterministic, so the budget gates
  * the lifecycle under any box weather, where wall-clock cannot. */
class DenseBudgetSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  /** Jobs of the retired single-table lifecycle, measured by this spec's
    * body in this session shape (local[4], 4 shuffle partitions) at the
    * commit before the one-shard fold: the budget the fold must not
    * exceed. The build may add one job: the `_sh` routing sidecar. */
  private val singleTable = Map("build" -> 6, "stream" -> 12,
    "probe.construct" -> 1, "probe.execute" -> 4)

  private val tagKey = "graft.spec.budget"

  test("dense lifecycle job budget: the one-shard build, stream append and probe run no more jobs than the single-table tier did") {
    val jobs = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tagKey)))
          .foreach(t => jobs.computeIfAbsent(t,
            _ => new java.util.concurrent.atomic.AtomicInteger())
            .incrementAndGet())
    }
    val sc = spark.sparkContext
    def counted[A](tag: String)(body: => A): A = {
      sc.setLocalProperty(tagKey, tag)
      try body finally {
        sc.setLocalProperty(tagKey, null)
        org.apache.spark.graftspec.Bus.drain(sc)
      }
    }
    val vecs = spark.range(400).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 12), 19, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 31, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))
    val base = vecs.filter(col("vec_id") < 300)
    val batch = vecs.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val queries = vecs.filter(col("vec_id").isin(7L, 61L, 140L, 222L, 299L))
    val (nlist, nprobe) = Similarity.ivfParams(300L)
    val t = "budget_idx"
    sc.addSparkListener(listener)
    try {
      counted("build")(Similarity.writeIvfAdcIndex(base, "vec_id",
        "embedding", t, nlist = nlist))
      val ms = MemoryStream[(Long, Array[Float])](spark)
      ms.addData(batch)
      counted("stream")(Similarity.streamAppendIvfAdcIndex(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", t))
      val probe = counted("probe.construct")(Similarity.ivfAdcTopKIndexed(
        queries, "vec_id", "embedding", k = 10, nprobe = nprobe, table = t))
      counted("probe.execute")(
        probe.write.format("noop").mode("overwrite").save())
      val got = singleTable.keys.map(k =>
        k -> Option(jobs.get(k)).map(_.get).getOrElse(0)).toMap
      info(s"jobs: $got (single-table tier: $singleTable)")
      assert(got("build") <= singleTable("build") + 1, got)
      for (k <- Seq("stream", "probe.construct", "probe.execute"))
        assert(got(k) <= singleTable(k), s"$k: $got")
      // the probe's stored side resolves the commit set as a pushed
      // In(gen) scan predicate — no broadcast join against a (shard,
      // gen, epoch) commit relation
      val p = probe.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l =>
          l.contains("PushedFilters") && l.contains("In(gen")),
        "commit set not pushed into the stored scan:\n" + p.take(4000))
      assert(!p.linesIterator.exists(l => l.contains("LocalTableScan") &&
          l.contains("gen#") && l.contains("epoch#")),
        "the commit set rides a local-relation join:\n" + p.take(4000))
    } finally {
      sc.removeSparkListener(listener)
      dropAdc(t)
    }
  }
}
