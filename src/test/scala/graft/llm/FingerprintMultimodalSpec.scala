package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftTestSpark

class FingerprintMultimodalSpec extends AnyFunSuite {
  lazy val spark = GraftTestSpark.spark
  import spark.implicits._

  test("BMP codec round-trips dims and raster bytes, padding included") {
    // width 9 → row stride 28 ≠ 27: exercises the 4-byte padding path;
    // the asymmetric pixel ramp catches any row-order (bottom-up) slip
    for ((w, h) <- Seq((9, 5), (8, 8), (1, 1), (31, 3))) {
      val px = Array.tabulate(w * h * 3)(i => (i * 11 + 3) % 256)
      val decoded = Multimodal.BmpCodec.decode(
        Multimodal.BmpCodec.encode(w, h, px(_)))
      assert(decoded != null)
      val (dw, dh, raster) = decoded
      assert((dw, dh) == (w, h))
      assert(raster.map(_ & 0xFF).toSeq == px.toSeq)
    }
    // total on junk: not a BMP → null, never a throw
    assert(Multimodal.BmpCodec.decode("not a bitmap".getBytes) == null)
    assert(Multimodal.BmpCodec.decode(Array[Byte]('B', 'M', 3)) == null)
    // adversarial header: width*height*3 = Int.MaxValue-1 passes the raster
    // bound but width*3+3 wraps an Int stride negative — must be null, not a
    // ~2 GB allocation followed by an arraycopy throw
    val evil = new Array[Byte](64)
    def put32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
      evil(off + i) = ((v >>> (8 * i)) & 0xFF).toByte)
    evil(0) = 'B'; evil(1) = 'M'
    put32(10, 54)          // dataOffset
    put32(18, 715827882)   // width: *3 = Int.MaxValue-1
    put32(22, 1)           // height
    evil(28) = 24          // bpp (low byte)
    put32(30, 0)           // compression
    assert(Multimodal.BmpCodec.decode(evil) == null)
  }

  test("PPM codec parses concatenated multi-digit-dim frames in order") {
    val frames = Seq((12, 3), (4, 10), (255, 1))
    val payload = frames.zipWithIndex.flatMap { case ((w, h), f) =>
      Multimodal.PpmCodec.encode(w, h, i => (i + f * 50) % 256)
    }.toArray
    val decoded = Multimodal.PpmCodec.decodeAll(payload)
    assert(decoded.map(d => (d._1, d._2)) == frames)
    decoded.zipWithIndex.foreach { case ((w, h, px), f) =>
      assert(px.map(_ & 0xFF).toSeq ==
        (0 until w * h * 3).map(i => (i + f * 50) % 256))
    }
    // truncated tail frame: frames parsed so far, no throw
    val cut = Multimodal.PpmCodec.decodeAll(payload.dropRight(5))
    assert(cut.length == 2)
  }

  test("decodeFeatures recovers the fixture's closed-form statistics") {
    val docs = graft.Tables.table(spark, GraftTestSpark.sfDir, "documents")
      .limit(10)
    val got = Multimodal.decodeFeatures(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == 10)
    got.foreach { case (id, r) =>
      val (w, h) = Multimodal.imageDims(id)
      assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h)
      assert(r.getAs[Long]("channels") == 3L)
      assert(r.getAs[Long]("top_left") == Multimodal.imagePixel(id, 0))
      val sum = (0 until w * h * 3).map(Multimodal.imagePixel(id, _).toLong).sum
      assert(r.getAs[Long]("mean_px_micro") == 1000000L * sum / (w * h * 3))
    }
  }

  test("frameFeatures keeps every 2nd frame with per-frame decoded dims") {
    val docs = graft.Tables.table(spark, GraftTestSpark.sfDir, "documents")
      .limit(12)
    val frames = Multimodal.frameFeatures(spark, docs).collect()
    val byDoc = frames.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.size == 12)
    byDoc.foreach { case (id, rows) =>
      val expectIdx = (0 until Multimodal.frameCount(id)).filter(_ % 2 == 0)
      assert(rows.map(_.getAs[Long]("frame_idx")).sorted.toSeq ==
        expectIdx.map(_.toLong))
      rows.foreach { r =>
        val (w, h) = Multimodal.frameDims(id, r.getAs[Long]("frame_idx").toInt)
        assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h)
      }
    }
  }

  test("intArrayFeature parses CIFAR-shaped int-array payloads (S5)") {
    val line = """{"0": {"matrix": "[1,2,3]", "label": "7"}}"""
    val parsed = graft.stream.Ingest.parsePayload(Seq(line).toDF("value"))
    val typed = graft.stream.Ingest.intArrayFeature(parsed, "matrix", "m")
    val row = typed.select("row_idx", "m").head()
    assert(row.getLong(0) == 0L && row.getSeq[Int](1) == Seq(1, 2, 3))
  }
}
