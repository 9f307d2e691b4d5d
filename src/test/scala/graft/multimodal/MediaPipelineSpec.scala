package graft.multimodal

import graft.{SparkSpec, Tables}

class MediaPipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("frame sampling keeps every stride-th fixed-size chunk") {
    val media = MediaPipeline.toMediaTable(Tables.documents(spark, sf).limit(5))
    assert(media.schema("payload").dataType.typeName == "binary")
    val frames = MediaPipeline.frameSample(media, frameBytes = 32, stride = 2)
    val perDoc = frames.groupBy("media_id").count().collect()
    assert(perDoc.nonEmpty && perDoc.forall(_.getLong(1) >= 1))
    assert(frames.select("frame_no").distinct().collect()
      .forall(_.getInt(0) % 2 == 0))
  }
}
