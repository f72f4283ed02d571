package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all specs (one JVM, one session). */
object SparkTest {
  private val tmpPaths =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A tmp path unique to this test JVM, registered for deletion when
    * the JVM exits — specs get throwaway sink dirs without accumulating
    * garbage across repeated test runs. */
  def tmpDir(tag: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_${tag}_${System.nanoTime}"
    tmpPaths.add(p)
    p
  }

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete()
  }

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_test_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // specs exercise the tmp-dir sink gates (q18/q44/.../q63) and write
    // their own scratch dirs via tmpDir(); sweep both when the JVM exits
    sys.addShutdownHook {
      RelationalQueries.cleanupTmpSinks(s)
      tmpPaths.forEach(p => rm(new java.io.File(p)))
    }
    s
  }
}

trait SparkTest {
  lazy val spark: SparkSession = SparkTest.spark
  def tmpDir(tag: String): String = SparkTest.tmpDir(tag)

  /** Drop every table of the persisted dense indexes `ts` (one layout
    * at any shard count: data, centroids, generations, replay marks,
    * tombstones, crash shadows, routing and serving sidecars). */
  def dropAdc(ts: String*): Unit =
    for (t <- ts; sfx <- Seq("_sh", "_serve", "_sv", "_sv_c", "_sv_g",
        "_sv_g_hwm", "_sv_t", "_sv_cmp", "_sv_g_compact_shadow",
        "_sv_c_compact_shadow", "_serve_compact_shadow"))
      spark.sql(s"DROP TABLE IF EXISTS `$t$sfx`")
}
