package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** One benchmark op. `construct` is the call into the library (the
  * query function, or a mutation entry point); when it returns a
  * DataFrame, the op's whole result is then produced through the
  * `noop` sink. `module` names the library module of the public
  * function the op calls. `kind` is `row` (a registry row, checked
  * against its DuckDB oracle), `probe` (an index probe, checked against
  * its scan-per-run twin) or `mutation` (an index write). */
final case class Op(name: String, module: String, kind: String,
    construct: SparkSession => Option[DataFrame],
    twin: Option[SparkSession => DataFrame] = None)

/** A workload: its fixed op list and a per-pass hook (fresh tables per
  * pass, dropped at pass end). */
trait Workload {
  /** Seconds one timed pass takes on the 4-core box the benchmark was
    * sized on; `--seconds` over it gives the timed pass count. */
  def nominalPassS: Double
  def passesFor(seconds: Double): Int =
    math.max(1, math.round(seconds / nominalPassS).toInt)
  /** The op list of one pass, in the seed's order. */
  def pass(spark: SparkSession, data: String, seed: Long, pass: Int): Seq[Op]
  /** Called after every pass, outside the timed window. */
  def endPass(spark: SparkSession, pass: Int): Unit = ()
  /** Tables whose committed generations `storage.generations` counts. */
  def generationTables(spark: SparkSession): Seq[String] = Nil
  /** Bytes of user rows the workload ingests into its indexes per pass,
    * and the bytes of user rows live in them at pass end. */
  def ingestedBytes: Long = 0L
  def liveBytes: Long = 0L
}

object Workloads {
  /** Registry rows, as (row name, module): each op calls
    * `SparkEntry.queries(name)`. */
  def registry(rows: Seq[(String, String)], data: String): Seq[Op] =
    rows.map { case (name, module) =>
      val fn = SparkEntry.queries(name)
      Op(name, module, "row", s => Some(fn(s, data)))
    }

  /** Seeded order of a fixed op list: the same seed and pass give the
    * same order. */
  def shuffled[A](xs: Seq[A], seed: Long, pass: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  def byName(name: String): Workload = name match {
    case "curation" => CurationWorkload
    case "index_maintain" => IndexMaintain
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (curation, index_maintain)")
  }
}

/** LLM-data curation operators that use no persisted index. */
object CurationWorkload extends Workload {
  val nominalPassS = 4.5
  val rows: Seq[(String, String)] = Seq(
    "q93" -> "curation", "q36_langid" -> "textanalysis",
    "q65_repetition" -> "curation", "q70_clean" -> "curation",
    "q70s" -> "curation", "q32_simhash" -> "dedup",
    "q34c_embed_dedup_clusters" -> "dedup")

  def pass(spark: SparkSession, data: String, seed: Long, pass: Int)
      : Seq[Op] =
    Workloads.shuffled(Workloads.registry(rows, data), seed, pass)
}

/** Index writes beside reads: per pass, on fresh table names dropped at
  * pass end, the lexical (BM25) tier runs build → seeded append batch →
  * seeded delete → compaction, and the dense (IVF-ADC) tier runs build →
  * stream append of a seeded batch. Each tier ends with a probe checked
  * against its scan-per-run twin over the same live set. The seed picks
  * the batches and probe rows and orders the two tiers; every pass
  * repeats the same lifecycle. */
object IndexMaintain extends Workload {
  val nominalPassS = 8.0
  import org.apache.spark.sql.functions._
  import graft.pipeline.{Similarity, TextAnalysis}

  private val k = 10

  /** The seeded split of the ids (documents and vectors share 0..n-1):
    * build set, append batch, deletions (from the build set), probe
    * rows. The lexical tier appends the batch and deletes; the dense
    * tier stream-appends the same batch. */
  final case class Split(base: Seq[Long], append: Seq[Long],
      delete: Seq[Long], probe: Seq[Long]) {
    def lexicalLive: Seq[Long] = (base ++ append).diff(delete)
    def denseLive: Seq[Long] = base ++ append
  }

  @volatile private var seeded: Split = _
  @volatile private var docBytes: Map[Long, Long] = Map.empty
  private val vecBytes = 8L + 4L * 64

  private def splitFor(spark: SparkSession, data: String, seed: Long)
      : Split = {
    if (seeded == null) {
      docBytes = Tables.documents(spark, data)
        .select(col("doc_id"), length(col("text")).cast("long"))
        .collect().map(r => r.getLong(0) -> (8L + r.getLong(1))).toMap
      val ids = new scala.util.Random(seed)
        .shuffle(docBytes.keys.toSeq.sorted)
      val n = ids.size
      val base = ids.take(n * 3 / 5)
      seeded = Split(base, ids.slice(n * 3 / 5, n * 4 / 5),
        base.take(n / 25), base.drop(n / 25).take(5))
    }
    seeded
  }

  /** User-row bytes: a document's id and text, a vector's id and 64
    * floats. */
  override def ingestedBytes: Long = Option(seeded).map(sp =>
    (sp.base ++ sp.append).map(id => docBytes(id) + vecBytes).sum)
    .getOrElse(0L)

  override def liveBytes: Long = Option(seeded).map(sp =>
    sp.lexicalLive.map(docBytes).sum + sp.denseLive.size * vecBytes)
    .getOrElse(0L)

  private def prefix(pass: Int) = s"pm${pass}_"

  override def generationTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(_.matches("pm\\d+_(bm25|adc)"))

  override def endPass(spark: SparkSession, pass: Int): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix(pass)))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  private def in(df: DataFrame, c: String, ids: Seq[Long]): DataFrame =
    df.filter(col(c).isin(ids: _*))

  def pass(spark: SparkSession, data: String, seed: Long, pass: Int)
      : Seq[Op] = {
    val sp = splitFor(spark, data, seed)
    val p = prefix(pass)
    def docs(s: SparkSession) = Tables.documents(s, data)
    def vecs(s: SparkSession) = Tables.embeddings(s, data)
    def mut(n: String, m: String)(body: SparkSession => Unit): Op =
      Op(n, m, "mutation", s => { body(s); None })

    val bm = p + "bm25"
    def queries(s: SparkSession) = in(docs(s), "doc_id", sp.probe)
      .select(col("doc_id").as("q_id"), array_join(slice(filter(
        split(col("text"), " "), w => length(w) > 0), 1, 6), " ")
        .as("qtext"))
    val lexical = Seq(
      mut("bm25.build", "textanalysis")(s => TextAnalysis.writeBm25Index(
        in(docs(s), "doc_id", sp.base), "doc_id", "text", bm)),
      mut("bm25.append", "textanalysis")(s => TextAnalysis.appendBm25Index(
        in(docs(s), "doc_id", sp.append), "doc_id", "text", bm)),
      mut("bm25.delete", "textanalysis")(s => TextAnalysis.deleteBm25Docs(
        s, bm, in(docs(s), "doc_id", sp.delete).select("doc_id"),
        "doc_id")),
      mut("bm25.compact", "textanalysis")(s =>
        TextAnalysis.compactBm25Index(s, bm)),
      Op("bm25.probe", "textanalysis", "probe",
        s => Some(TextAnalysis.bm25TopKIndexed(queries(s), "q_id", "qtext",
          bm, k)),
        Some(s => TextAnalysis.bm25TopK(in(docs(s), "doc_id",
          sp.lexicalLive), "doc_id", "text", queries(s), "q_id", "qtext",
          k))))

    // the quantizer trains on the build set; the stream appends under it
    val adc = p + "adc"
    val (nlist, nprobe) = Similarity.ivfParams(sp.base.size.toLong)
    val dense = Seq(
      mut("adc.build", "similarity")(s => Similarity.writeIvfAdcIndex(
        in(vecs(s), "vec_id", sp.base), "vec_id", "embedding", adc,
        nlist = nlist)),
      mut("adc.stream", "similarity")(s =>
        Similarity.streamAppendIvfAdcIndex(in(Tables.streamOf(s, data,
          "embeddings"), "vec_id", sp.append), "vec_id", "embedding", adc)),
      Op("adc.probe", "similarity", "probe",
        s => Some(Similarity.ivfAdcTopKIndexed(in(vecs(s), "vec_id",
          sp.probe), "vec_id", "embedding", k, nprobe, adc)),
        Some(s => Similarity.ivfAdcTopK(in(vecs(s), "vec_id",
            sp.denseLive), "vec_id", "embedding", k, nlist = nlist,
            nprobe = nprobe, cents = Similarity.readIvfCentroids(s, adc))
          .filter(col("q_id").isin(sp.probe: _*)))))

    Workloads.shuffled(Seq(lexical, dense), seed, pass).flatten
  }
}
