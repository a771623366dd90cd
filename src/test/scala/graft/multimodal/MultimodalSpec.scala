package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  test("binary-column pipeline: cast -> type tag -> batched meta extract") {
    // text bytes stand in for media payloads: they sniff as no known
    // container, so the dims come from the deterministic stub
    def pipeline() = {
      val media = docs.select(
        col("doc_id").as("media_id"),
        lit("image").as("media_type"),
        col("text").cast("binary").as("payload"))
      Multimodal.extractMeta(media, "media_id", "media_type", "payload")
    }
    val meta = pipeline()
    assert(meta.count() == docs.count())
    val r = meta.head()
    assert(r.media_type == "image")
    assert(r.n_bytes > 0)
    assert(r.width >= 64 && r.height >= 64)
    // deterministic stub: same input → same fake dims
    val again = pipeline()
    assert(meta.orderBy("media_id").collect().toSeq ==
      again.orderBy("media_id").collect().toSeq)
  }

  test("frame sampling expands 1->N without shuffle") {
    // filter (pushes to scan) instead of limit (which inserts an Exchange)
    val media = docs.where(col("doc_id") < 10).select(
      col("doc_id"), col("text").cast("binary").as("payload"))
    val frames = Multimodal.sampleFrames(media, "doc_id", "payload", n = 4)
    assert(frames.count() == 40)
    assert(frames.where(col("frame_idx") >= 4).count() == 0)
    // no exchange in the plan: decode runs at scan parallelism
    val plan = frames.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in decode plan:\n$plan")
  }
}
