package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Similarity
import graft.sources.SidecarRead

/** The driver-side sidecar reader (r22 metadata-floor optimization) must
  * decode EXACTLY the rows a Spark collect over the same table returns —
  * across the index lifecycle states that rewrite the sidecars (build,
  * append, retrain, serving persist, sharded layouts) — and fail naming
  * the table and field when a sidecar does not hold what it must. */
class SidecarReadSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  /** Rows as a MULTISET (row → count): duplicate sidecar rows must not
    * collapse the way a `Set` would collapse them. */
  private def sparkRows(t: String): Map[Map[String, Any], Int] =
    spark.table(t).collect().toSeq.map { r =>
      r.schema.fieldNames.zipWithIndex.flatMap { case (f, i) =>
        if (r.isNullAt(i)) None else Some(f -> r.get(i))
      }.toMap
    }.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def sidecarRows(t: String): Map[Map[String, Any], Int] =
    SidecarRead.rows(spark, t).map(_.values)
      .groupBy(identity).map { case (r, rs) => r -> rs.size }

  test("sidecar reader == Spark collect on the ADC protocol tables through build/append/retrain") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = corpus.count()
    val (nlist, _) = Similarity.ivfParams(n)
    try {
      Similarity.writeIvfAdcIndex(corpus.filter(col("vec_id") * 2 < n),
        "vec_id", "embedding", "screl_idx", nlist = nlist, dim = 64)
      assert(sidecarRows("screl_idx_sh") == sparkRows("screl_idx_sh"))
      assert(sidecarRows("screl_idx_sv_g") == sparkRows("screl_idx_sv_g"))
      Similarity.appendIvfAdcIndex(corpus.filter(col("vec_id") * 2 >= n),
        "vec_id", "embedding", "screl_idx", dim = 64)
      // the build's gen-0 row plus the append's commit row
      assert(sidecarRows("screl_idx_sv_g") == sparkRows("screl_idx_sv_g"))
      assert(sidecarRows("screl_idx_sv_g").values.sum == 2)
      // epoch resolution (the probe path's read) agrees with the agg job
      val viaJob = spark.table("screl_idx_sv_g").agg(max("epoch")).head()
        .getLong(0)
      assert(Similarity.svState(spark, "screl_idx", fresh = true)
        .epochs.toSeq == Seq(viaJob))
      Similarity.retrainIvfAdcIndex(corpus, "vec_id", "embedding",
        "screl_idx", nlist = nlist, dim = 64)
      assert(sidecarRows("screl_idx_sv_g") == sparkRows("screl_idx_sv_g"))
      assert(Similarity.svState(spark, "screl_idx", fresh = true)
        .epochs.toSeq ==
        Seq(spark.table("screl_idx_sv_g").agg(max("epoch")).head()
          .getLong(0)))
    } finally dropAdc("screl_idx")
  }

  test("sidecar reader == Spark collect on the sharded layout + serving sidecars") {
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    try {
      Similarity.writeIvfAdcIndexSharded(corpus, "vec_id", "embedding",
        "screl_sh", nShards = 2, dim = 64)
      assert(sidecarRows("screl_sh_sh") == sparkRows("screl_sh_sh"))
      assert(sidecarRows("screl_sh_sv_g") == sparkRows("screl_sh_sv_g"))
      // the probe path's resolved state survives the reader swap: the
      // fan-out probe still answers (exercises readShardMeta + svState)
      val got = Similarity.ivfAdcTopKIndexedSharded(
        corpus.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 3, table = "screl_sh", dim = 64).count()
      assert(got > 0)
    } finally dropAdc("screl_sh")
  }

  test("serving-decision reads decode via the sidecar reader (single-table tier)") {
    // the single-table name builds a one-shard index; its serving row
    // is the per-shard serving sidecar at S = 1
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (nlist, _) = Similarity.ivfParams(corpus.count())
    val served = Similarity.ShardServing("probe",
      Similarity.ShardDials(3, 0.97, 2, 0.95), depth = 0, recall = 0.95)
    try {
      Similarity.writeIvfAdcIndex(corpus, "vec_id", "embedding",
        "screl_sv1", nlist = nlist, dim = 64)
      Similarity.writeShardServing(spark, "screl_sv1", Seq(served))
      assert(sidecarRows("screl_sv1_serve") == sparkRows("screl_sv1_serve"))
      val got = Similarity.readShardServing(spark, "screl_sv1")
      assert(got.contains(Seq(served)), got)
      // an epoch flip refuses the stored row (staleness contract
      // preserved through the reader swap)
      Similarity.retrainIvfAdcIndex(corpus, "vec_id", "embedding",
        "screl_sv1", nlist = nlist, dim = 64)
      assert(Similarity.readShardServing(spark, "screl_sv1").isEmpty)
    } finally dropAdc("screl_sv1")
  }

  /** A small synthetic 64-dim corpus of `n` vectors (ids 0 until n). */
  private def synthetic(n: Int) =
    spark.range(n).select(col("id").as("vec_id"), expr(
      "transform(sequence(0, 63), i -> cast(" +
      "pmod(hash(pmod(id, 12), 19, i), 2000) / 1000.0d - 1.0d" +
      " + pmod(hash(id, 31, i), 100) / 1000.0d - 0.05d as float))")
      .as("embedding"))

  test("a present-but-null rsgen in the _sh sidecar fails loudly, naming the table") {
    val corpus = synthetic(200)
    try {
      Similarity.writeIvfAdcIndex(corpus, "vec_id", "embedding",
        "screl_null", nlist = 4, dim = 64)
      // hand-written sidecar: the rsgen COLUMN exists, its value is null
      Seq((1, Option.empty[Long])).toDF("nshards", "rsgen")
        .write.format("parquet").mode("overwrite")
        .saveAsTable("screl_null_sh")
      val e = intercept[IllegalStateException] {
        Similarity.ivfAdcTopKIndexed(corpus, "vec_id", "embedding", k = 3,
          nprobe = 2, table = "screl_null")
      }
      assert(e.getMessage.contains("screl_null_sh") &&
        e.getMessage.contains("rsgen"), e.getMessage)
    } finally dropAdc("screl_null")
  }

  test("a sidecar getter names the table and the missing field") {
    try {
      Seq((1, 2L)).toDF("nshards", "rsgen").write.format("parquet")
        .mode("overwrite").saveAsTable("screl_fields")
      val row = SidecarRead.rows(spark, "screl_fields").head
      assert(row.getLong("rsgen") == 2L && row.getInt("nshards") == 1)
      val e = intercept[IllegalStateException](row.getLong("epoch"))
      assert(e.getMessage.contains("screl_fields") &&
        e.getMessage.contains("'epoch'"), e.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS screl_fields")
  }

  test("a one-shard index builds, appends and probes under a non-parquet sources default") {
    // every dense-tier sidecar is pinned to parquet — the reader decodes
    // only parquet — whatever spark.sql.sources.default says
    val corpus = synthetic(300)
    val prev = spark.conf.get("spark.sql.sources.default")
    def probe(t: String) = Similarity.ivfAdcTopKIndexed(
        corpus.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        k = 3, nprobe = 2, table = t)
      .select("q_id", "nb_id", "rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq
    try {
      val cents = Similarity.writeIvfAdcIndex(corpus, "vec_id",
        "embedding", "screl_ref", nlist = 4, dim = 64)
      spark.conf.set("spark.sql.sources.default", "orc")
      Similarity.writeIvfAdcIndex(corpus.filter(col("vec_id") < 200),
        "vec_id", "embedding", "screl_orc", nlist = 4, dim = 64,
        cents = cents)
      Similarity.appendIvfAdcIndex(corpus.filter(col("vec_id") >= 200),
        "vec_id", "embedding", "screl_orc", dim = 64)
      Similarity.deleteIvfVecs(spark, "screl_orc", Seq(-1L).toDF("vec_id"),
        "vec_id")
      for (s <- Seq("_sh", "_sv", "_sv_c", "_sv_g", "_sv_t"))
        assert(spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier("screl_orc" + s))
          .provider.contains("parquet"), s)
      val got = probe("screl_orc")
      assert(got.nonEmpty && got == probe("screl_ref"))
    } finally {
      spark.conf.set("spark.sql.sources.default", prev)
      dropAdc("screl_orc"); dropAdc("screl_ref")
    }
  }
}
