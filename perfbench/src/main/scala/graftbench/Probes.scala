package graftbench

import graft.functions.{CdcChunks, HashOps, VectorMath}
import graft.sources.api.{NumbersTable, PluginConfig, QueryContext, RangeSplit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Single-threaded per-row cost of the native kernels and of the connector
  * row generator, called directly on the benchmark's input rows. */
object Probes {
  /** Median over 3 timed sweeps (after one untimed JIT sweep) of ns per
    * row; each sweep repeats the row set until it has run for minMs. */
  private def nsPerRow(rows: Int, minMs: Double = 150)(sweep: => Unit): Double = {
    sweep
    val samples = (1 to 3).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e6 < minMs || reps == 0) { sweep; reps += 1 }
      (System.nanoTime() - t0).toDouble / (reps.toLong * rows)
    }.sorted
    samples(1)
  }

  @volatile private var sink: Long = 0L

  def kernels(spark: SparkSession, dir: String): Map[String, Double] = {
    val texts: Array[UTF8String] = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val vecs: Array[ArrayData] = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>)").collect()
      .map(r => new GenericArrayData(r.getSeq[Double](0).toArray): ArrayData)
    val shingles: Array[ArrayData] = texts.map(t => HashOps.charShingles(t, 5))
    val cands = new GenericArrayData(vecs.take(16).map(v => v: Any))
    var acc = 0L
    val out = Map(
      "char_shingles" -> nsPerRow(texts.length) {
        texts.foreach(t => acc += HashOps.charShingles(t, 5).numElements()) },
      "minhash_sig" -> nsPerRow(shingles.length) {
        shingles.foreach(s => acc += HashOps.minhashSig(s).getLong(0)) },
      "simhash64" -> nsPerRow(shingles.length) {
        shingles.foreach(s => acc += HashOps.simhash64(s)) },
      "winnow_stats" -> nsPerRow(texts.length) {
        texts.foreach(t => acc += HashOps.winnowStats(t).numFields) },
      "cdc_chunks" -> nsPerRow(texts.length) {
        texts.foreach(t => acc += CdcChunks.compute(t).numElements()) },
      "dot" -> nsPerRow(vecs.length) {
        var i = 1
        while (i < vecs.length) { acc += VectorMath.dot(vecs(i - 1), vecs(i)).toLong; i += 1 }
      },
      "argmin_l2" -> nsPerRow(vecs.length) {
        vecs.foreach(v => acc += VectorMath.argminL2(v, cands)) })
    sink = acc
    out
  }

  /** ns per row of `NumbersTable.scan` over one page, every column. */
  def connectorScan(pageSize: Long): Double = {
    val qc = QueryContext(NumbersTable.schema.fieldNames.toSeq, Nil, None)
    val cfg = PluginConfig(n = pageSize, pageSize = pageSize)
    val split = RangeSplit(0L, pageSize)
    var acc = 0L
    val r = nsPerRow(pageSize.toInt) {
      NumbersTable.scan(split, qc, cfg).foreach(row => acc += row.length) }
    sink = acc
    r
  }
}
