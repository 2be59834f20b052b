package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class DocStreamsSpec extends SparkSpec {
  import spark.implicits._
  import DocStreams._

  private def t(s: String) = Timestamp.valueOf(s)

  private val base =
    "the quick brown fox jumps over the lazy dog and then runs far away into the quiet hills tonight"
  private val nearDup =
    "the quick brown fox jumps over the lazy cat and then runs far away into the quiet hills tonight"
  private val unrelated =
    "completely different words about spark shuffles exchanges partitions codegen catalyst tungsten planning execution memory"

  test("a later near-duplicate is flagged against the earlier owner; unrelated text is not") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = DocStreams.nearDupCandidates(ms.toDF())
      .writeStream.format("memory").queryName("nd1").outputMode("append").start()
    try {
      ms.addData(Doc(1, t("2024-01-01 10:00:00"), base))
      q.processAllAvailable()
      ms.addData(Doc(2, t("2024-01-01 10:05:00"), nearDup),
        Doc(3, t("2024-01-01 10:05:00"), unrelated))
      q.processAllAvailable()
      val out = spark.table("nd1").as[NearDup].collect()
      assert(out.nonEmpty, "near-dup produced no candidates")
      assert(out.forall(c => c.doc_id == 2 && c.dup_of == 1),
        s"unexpected candidates: ${out.mkString(", ")}")
      assert(out.forall(_.est_jaccard > 0.3))
    } finally q.stop()
  }

  test("admit-first within a single trigger: earliest (ts, doc_id) owns the buckets") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = DocStreams.nearDupCandidates(ms.toDF())
      .writeStream.format("memory").queryName("nd2").outputMode("append").start()
    try {
      ms.addData(
        Doc(7, t("2024-01-01 10:01:00"), nearDup), // later ts — flagged
        Doc(5, t("2024-01-01 10:00:00"), base))    // earlier ts — owner
      q.processAllAvailable()
      val out = spark.table("nd2").as[NearDup].collect()
      assert(out.nonEmpty)
      assert(out.forall(c => c.doc_id == 7 && c.dup_of == 5))
    } finally q.stop()
  }

  test("bucket state is evicted past the horizon: a replayed text re-claims instead of flagging") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = DocStreams.nearDupCandidates(ms.toDF(),
        watermark = "1 minute", horizonSeconds = 60L)
      .writeStream.format("memory").queryName("nd3").outputMode("append").start()
    try {
      ms.addData(Doc(1, t("2024-01-01 10:00:00"), base))
      q.processAllAvailable()
      // unrelated traffic advances the watermark far past 10:01 ...
      ms.addData(Doc(100, t("2024-01-01 11:00:00"), unrelated))
      q.processAllAvailable()
      // ... and the next trigger fires the timeouts, evicting doc 1's buckets
      ms.addData(Doc(101, t("2024-01-01 11:00:30"), unrelated))
      q.processAllAvailable()
      ms.addData(Doc(2, t("2024-01-01 11:01:00"), base)) // same text, fresh horizon
      q.processAllAvailable()
      val dupsOf1 = spark.table("nd3").as[NearDup].collect().filter(_.dup_of == 1)
      assert(dupsOf1.isEmpty,
        s"doc 2 flagged against evicted owner: ${dupsOf1.mkString(", ")}")
    } finally q.stop()
  }

  test("a claim hitting an expired-but-unevicted owner re-claims instead of crashing the query") {
    // data is processed before timeouts fire within a trigger, so this
    // claim arrives while the aged-out owner is still in state; the
    // operator must expire it in the data path — re-registering the
    // owner's past-watermark deadline would throw IllegalArgumentException
    // and kill the whole streaming query
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = DocStreams.nearDupCandidates(ms.toDF(),
        watermark = "1 minute", horizonSeconds = 60L)
      .writeStream.format("memory").queryName("nd4").outputMode("append").start()
    try {
      ms.addData(Doc(1, t("2024-01-01 10:00:00"), base))
      q.processAllAvailable()
      // this trigger advances the end-of-trigger watermark to 11:59, far
      // past the owner's 10:01 deadline — but its timeout check ran with
      // the PREVIOUS watermark (09:59), so the owner is NOT evicted yet
      ms.addData(Doc(100, t("2024-01-01 12:00:00"), unrelated))
      q.processAllAvailable()
      // the claim lands on the expired-but-present owner (wm now 11:59)
      ms.addData(Doc(2, t("2024-01-01 12:30:00"), base))
      q.processAllAvailable()
      ms.addData(Doc(3, t("2024-01-01 12:31:00"), base))
      q.processAllAvailable() // doc 3 vs doc 2's fresh claim — must not touch doc 1
      val out = spark.table("nd4").as[NearDup].collect()
      assert(out.filter(_.dup_of == 1).isEmpty,
        s"flagged against an expired owner: ${out.mkString(", ")}")
      assert(out.exists(c => c.doc_id == 3 && c.dup_of == 2),
        s"fresh re-claim by doc 2 not honored: ${out.mkString(", ")}")
    } finally q.stop()
  }

  test("batch execution applies the same admit-first rule (no watermark, no timeouts)") {
    val docs = Seq(
      Doc(1, t("2024-01-01 10:00:00"), base),
      Doc(2, t("2024-01-01 10:05:00"), nearDup),
      Doc(3, t("2024-01-01 10:06:00"), unrelated)).toDF()
    val out = DocStreams.nearDupCandidates(docs).collect()
    assert(out.nonEmpty)
    assert(out.forall(c => c.doc_id == 2 && c.dup_of == 1))
    assert(out.forall(_.est_jaccard > 0.3))
  }

  test("gram-less documents claim no bucket and are never flagged, streamed or batched") {
    // fewer than 3 tokens: no 3-gram to hash, so no band digest — the
    // batch banding (q51's NULL b0..b3) proposes no pair for them either
    val short = Seq(
      Doc(1, t("2024-01-01 10:00:00"), "hi"),
      Doc(2, t("2024-01-01 10:01:00"), "ok there"),
      Doc(3, t("2024-01-01 10:02:00"), ""))
    val batch = DocStreams.nearDupCandidates(short.toDF()).collect()
    assert(batch.isEmpty, s"batch flagged gram-less docs: ${batch.mkString(", ")}")
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[Doc]
    val q = DocStreams.nearDupCandidates(ms.toDF())
      .writeStream.format("memory").queryName("nd5").outputMode("append").start()
    try {
      ms.addData(short.head)
      q.processAllAvailable()
      ms.addData(short.tail: _*)
      q.processAllAvailable()
      val out = spark.table("nd5").as[NearDup].collect()
      assert(out.isEmpty, s"stream flagged gram-less docs: ${out.mkString(", ")}")
    } finally q.stop()
  }
}
