package graft.multimodal

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)

  test("asMedia: binary payload + typed metadata schema") {
    val media = MultimodalOps.asMedia(docs)
    // same names/types; nullability depends on the input source
    def shape(s: org.apache.spark.sql.types.StructType): Seq[(String, String)] =
      s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
    assert(shape(media.schema) == shape(MultimodalOps.mediaSchema))
    val r = media.orderBy("media_id").head()
    val meta = r.getStruct(2)
    assert(meta.getAs[Int]("byte_len") > 0)
    assert(meta.getAs[String]("sha").length == 64)
  }

  test("featurize: partition-local decode stub yields fixed-size deterministic vectors") {
    val media = MultimodalOps.asMedia(docs)
    val f1 = MultimodalOps.featurize(spark, media).collect().sortBy(_.media_id)
    val f2 = MultimodalOps.featurize(spark, media.repartition(7)).collect().sortBy(_.media_id)
    assert(f1.length == 50)
    assert(f1.forall(_.features.length == 8))
    // partitioning must not change the result (narrow, row-local op)
    assert(f1.zip(f2).forall { case (a, b) => a.features.sameElements(b.features) })
    // features are byte means → within [0, 255]
    assert(f1.forall(_.features.forall(v => v >= 0f && v <= 255f)))
  }

  test("asPngMedia payloads parse as real PNGs: fields, chunk walk, CRC round-trip") {
    val media = MultimodalOps.asPngMedia(docs)
    val rows = media.select("media_id", "payload").collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val id = r.getLong(0)
      val p = r.getAs[Array[Byte]](1)
      val h = MultimodalOps.decodePng(p)
        .getOrElse(fail(s"payload of doc $id did not parse as PNG"))
      assert(h.crcOk, s"IHDR CRC mismatch for doc $id")
      assert(h.height == (id % 240 + 1).toInt)
      assert(h.bitDepth == 8 && h.colorType == 2)
      // width and the IDAT chunk length both carry the text byte length
      assert(h.width == h.nextChunkLen)
      assert(p.length == 41 + h.width, "signature+IHDR+IDAT framing length")
    }
  }

  test("decodePng rejects corrupt signatures and corrupt CRCs") {
    val media = MultimodalOps.asPngMedia(docs)
    val good = media.select("payload").head().getAs[Array[Byte]](0)
    assert(MultimodalOps.decodePng(good).exists(_.crcOk))
    // flipped signature byte → not a PNG at all
    val badSig = good.clone(); badSig(0) = 0x42
    assert(MultimodalOps.decodePng(badSig).isEmpty)
    // flipped width byte → parses structurally but the stored CRC no
    // longer matches; decode() must fall back to the octile stub
    val badCrc = good.clone(); badCrc(19) = (badCrc(19) ^ 0x01).toByte
    assert(MultimodalOps.decodePng(badCrc).exists(h => !h.crcOk))
    assert(MultimodalOps.decode(badCrc).sameElements(MultimodalOps.byteOctileFeatures(badCrc)))
    // truncated prefix → None, octile fallback
    assert(MultimodalOps.decodePng(good.take(20)).isEmpty)
  }

  test("frameSample: n evenly spaced byte slices") {
    val media = MultimodalOps.asMedia(docs)
    val sampled = media.select(col("media_id"),
      MultimodalOps.frameSample(col("payload"), n = 4, width = 8).as("frames"))
    val r = sampled.head()
    val frames = r.getSeq[Array[Byte]](1)
    assert(frames.length == 4)
    assert(frames.forall(_.length <= 8))
  }
}
