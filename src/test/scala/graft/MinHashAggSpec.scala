package graft

import org.apache.spark.sql.functions._

import graft.functions.{MinHashAgg, TextHash}
import graft.io.Tables

/** The incremental MinHash aggregator must produce the same signatures as
  * the array-expression form, including under repartitioning (partial
  * buffers merge by element-wise min). */
class MinHashAggSpec extends SparkSpec {

  test("aggregator signature equals array-expression signature") {
    val sh = TextHash.addShingleHashes(
      Tables.load(spark, sf001, "documents"), col("text"))
      .select(col("doc_id"), col("hs"))
    val viaArray = sh.select(col("doc_id"),
      array((0 until TextHash.K).map(k =>
        TextHash.minhash(col("hs"), k)): _*).as("sig"))
    val viaAgg = sh
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .repartition(13) // exercise partial-buffer merges
      .groupBy("doc_id")
      .agg(MinHashAgg.minhashSig(col("h")).as("sig"))
    val joined = viaArray.as("a")
      .join(viaAgg.as("b"), col("a.doc_id") === col("b.doc_id"))
      .filter(col("a.sig") =!= col("b.sig"))
    assert(joined.count() == 0)
    assert(viaAgg.count() == viaArray.count())
  }

  test("fused signature kernel (r15) equals the composed " +
    "array_min(transform(...)) spelling, empty-hs nulls included") {
    import spark.implicits._
    Tables.ensureSessionRegistered(spark)
    val sh = TextHash.addShingleHashes(
      Tables.load(spark, sf001, "documents"), col("text"))
      .select(col("doc_id"), col("hs"))
      // plant the <3-token case: an EMPTY shingle set must yield a
      // 16-slot all-null signature in both spellings
      .unionByName(Seq((-1L, Seq.empty[Long])).toDF("doc_id", "hs"))
      // and a NULL shingle set, where the two spellings differ
      .unionByName(Seq((-2L, Option.empty[Seq[Long]])).toDF("doc_id", "hs"))
    val composed = sh.select(col("doc_id"),
      array((0 until TextHash.K).map(k =>
        TextHash.minhash(col("hs"), k)): _*).as("sig"))
    val fused = sh.select(col("doc_id"), call_function(
      graft.functions.GraftMinhashSig.FunctionName, col("hs")).as("sig"))
    val diverged = composed.as("a")
      .join(fused.as("b"), col("a.doc_id") === col("b.doc_id"))
      .filter(!(col("a.sig") <=> col("b.sig")))
    assert(diverged.select(col("a.doc_id")).collect().map(_.getLong(0))
      .toSeq == Seq(-2L), "only the NULL-hs row may diverge")
    val empty = fused.filter(col("doc_id") === -1L)
      .select(explode(col("sig"))).collect()
    assert(empty.length == TextHash.K && empty.forall(_.isNullAt(0)),
      "empty shingle set must produce K null slots")
    // NULL hs: the kernel returns a NULL signature, the composed form a
    // non-null array of K null slots (array() of K NULL array_mins)
    assert(fused.filter(col("doc_id") === -2L).head().isNullAt(1),
      "the kernel must map a NULL shingle set to a NULL signature")
    val composedNull = composed.filter(col("doc_id") === -2L)
      .select(explode(col("sig"))).collect()
    assert(composedNull.length == TextHash.K &&
      composedNull.forall(_.isNullAt(0)),
      "the composed spelling must map a NULL shingle set to K null slots")
  }
}
