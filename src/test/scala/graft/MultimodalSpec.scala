package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

/** Multimodal payload plumbing: the resize compaction step's integer
  * geometry, proportional byte slice, and no-upscale law.
  */
class MultimodalSpec extends AnyFunSuite with SharedSpark {

  test("resizeToFit: integer geometry, proportional slice, no upscale") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val media = Seq(
      // landscape 512x240 -> fits to 128x60
      (1L, "image", Array.fill[Byte](1000)(7), 512L, 240L),
      // already within bounds -> untouched geometry and payload
      (2L, "image", Array.fill[Byte](300)(7), 100L, 80L),
      // portrait 64x480 -> 17x128
      (3L, "video", Array.fill[Byte](960)(7), 64L, 480L))
      .toDF("media_id", "kind", "payload", "w", "h")
    val out = Multimodal.resizeToFit(media, maxDim = 128)
      .collect().sortBy(_.media_id)
    assert(out.map(r => (r.media_id, r.out_w, r.out_h)).toSeq ==
      Seq((1L, 128L, 60L), (2L, 100L, 80L), (3L, 17L, 128L)))
    // byte budget scales with the area ratio (integer math)
    assert(out(0).n_bytes_out == 1000L * (128 * 60) / (512 * 240))
    assert(out(1).n_bytes_out == 300L)
    // the stub actually compacts the payload to that budget
    out.foreach(r => assert(r.payload_out.length.toLong == r.n_bytes_out))
  }

  test("sampleFrames windows tile the payload: stride law, bounds, first-byte probe") {
    val s = spark; import s.implicits._
    // media_id 9 -> n_frames (9%8+2)*5 = 15, payload 47 bytes ->
    // frame_bytes 47 div 15 = 3; stride 7 samples frames 0, 7, 14
    val payload = (0 until 47).map(i => ('a' + i % 26).toByte).toArray
    val media = Seq((9L, "video", payload), (10L, "image", payload))
      .toDF("media_id", "kind", "payload")
    val rows = Multimodal.sampleFrames(media, stride = 7)
      .orderBy("frame_idx")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // non-video rows never sample
    assert(rows.forall(_._1 == 9L))
    assert(rows.map(_._2).toSeq == Seq(0L, 7L, 14L))
    for ((_, idx, off, n, first) <- rows) {
      assert(off == idx * 3 && n == 3, s"frame $idx window ($off, $n)")
      // every window starts strictly inside the payload
      assert(off < payload.length)
      assert(first == payload(off.toInt).toLong, s"frame $idx probe")
    }
  }

  // ---- round-18: REAL pixel decode (P6 PPM hand parser + javax
  // .imageio), golden-pixel pinned ----

  private def ppmBytes(w: Int, h: Int, px: Seq[(Int, Int, Int)],
      comment: Boolean = false): Array[Byte] = {
    val hdr = (if (comment) s"P6\n# golden fixture\n$w $h\n255\n"
      else s"P6\n$w $h\n255\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    hdr ++ px.flatMap { case (r, g, b) =>
      Seq(r.toByte, g.toByte, b.toByte) }.toArray
  }

  private val goldenPx = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255),
    (10, 20, 30), (0, 0, 0), (255, 255, 255), (128, 128, 128), (1, 2, 3))

  test("decodePpm: golden pixels, comment tolerance, malformed -> None") {
    val img = Multimodal.decodePpm(ppmBytes(4, 2, goldenPx,
      comment = true)).get
    assert(img.w == 4 && img.h == 2)
    val got = img.rgb.grouped(3)
      .map(a => (a(0) & 0xff, a(1) & 0xff, a(2) & 0xff)).toSeq
    assert(got == goldenPx, "raster must round-trip byte-exactly")
    // malformed payloads refuse instead of mis-decoding
    assert(Multimodal.decodePpm(
      ppmBytes(4, 2, goldenPx).dropRight(1)).isEmpty, "truncated raster")
    assert(Multimodal.decodePpm("P5\n4 2\n255\n".getBytes).isEmpty,
      "wrong magic (P5 is grayscale)")
    assert(Multimodal.decodePpm(
      "the quick brown fox".getBytes).isEmpty, "text payload")
    assert(Multimodal.decodePpm(
      "P6\n0 2\n255\n".getBytes).isEmpty, "zero width")
  }

  test("decodeImage: BMP and PNG via javax.imageio recover the exact raster") {
    for (fmt <- Seq("bmp", "png")) {
      val buf = new java.awt.image.BufferedImage(4, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      goldenPx.zipWithIndex.foreach { case ((r, g, b), i) =>
        buf.setRGB(i % 4, i / 4, (r << 16) | (g << 8) | b)
      }
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(buf, fmt, baos),
        s"JDK must ship a $fmt writer")
      val img = Multimodal.decodeImage(baos.toByteArray)
        .getOrElse(fail(s"$fmt payload must decode"))
      assert(img.w == 4 && img.h == 2)
      val got = img.rgb.grouped(3)
        .map(a => (a(0) & 0xff, a(1) & 0xff, a(2) & 0xff)).toSeq
      assert(got == goldenPx, s"$fmt raster must be lossless")
    }
  }

  test("pixelFeatures: genuine luma/digest/histogram from decoded pixels") {
    // 2x1 image: pure white + pure black — hand-computable features
    val row = Multimodal.MediaRow(7L, "image",
      ppmBytes(2, 1, Seq((255, 255, 255), (0, 0, 0))), 0L)
    val f = Multimodal.pixelFeatures(row).get
    val whiteY = 0.299 * 255 + 0.587 * 255 + 0.114 * 255
    assert(f.luma == whiteY / 2.0, "mean Rec.601 luminance")
    assert(f.checksum == 255L * 3, "digest = sum of decoded RGB bytes")
    // histogram: white in bin 15, black in bin 0, unit-normalized
    val inv = (1.0 / math.sqrt(2.0)).toFloat
    assert(f.embedding(0) == inv && f.embedding(15) == inv)
    assert(f.embedding.slice(1, 15).forall(_ == 0f))
    // a text payload has no pixel features
    assert(Multimodal.pixelFeatures(Multimodal.MediaRow(8L, "image",
      "not an image".getBytes, 0L)).isEmpty)
  }

  test("resizePixels: nearest-neighbor golden resample + PPM round-trip identity") {
    val img = Multimodal.decodePpm(ppmBytes(4, 2, goldenPx)).get
    val small = Multimodal.resizePixels(img, maxDim = 2)
    // 4x2 fit within 2 -> 2x1; nearest-neighbor picks source pixels
    // (x*4/2, y*2/1) = columns 0 and 2 of row 0
    assert(small.w == 2 && small.h == 1)
    val got = small.rgb.grouped(3)
      .map(a => (a(0) & 0xff, a(1) & 0xff, a(2) & 0xff)).toSeq
    assert(got == Seq(goldenPx(0), goldenPx(2)))
    // no upscale: already-fitting image returned untouched
    assert(Multimodal.resizePixels(img, maxDim = 8) eq img)
    // encodePpm/decodePpm is identity on the raster
    val rt = Multimodal.decodePpm(Multimodal.encodePpm(small)).get
    assert(rt.w == small.w && rt.h == small.h &&
      rt.rgb.sameElements(small.rgb))
  }

  test("extractFeaturesDecoded/resizeToFitDecoded: real path for images, stub fallback elsewhere") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val ppm = ppmBytes(4, 2, goldenPx)
    val media = Seq(
      (1L, "image", ppm, 4L, 2L),
      (2L, "audio", "just some text bytes".getBytes, 100L, 80L))
      .toDF("media_id", "kind", "payload", "w", "h")
    val feats = Multimodal.extractFeaturesDecoded(
      media.select("media_id", "kind", "payload")
        .withColumn("declared_bytes", lit(0L)))
      .collect().sortBy(_.media_id)
    // image row carries REAL pixel features; audio row equals the stub
    // (field-wise — the embedding is an Array, so case-class == would
    // compare references)
    def same(a: Multimodal.MediaFeatures,
        b: Multimodal.MediaFeatures): Boolean =
      a.media_id == b.media_id && a.kind == b.kind &&
        a.n_bytes == b.n_bytes && a.luma == b.luma &&
        a.checksum == b.checksum && a.embedding.sameElements(b.embedding)
    assert(same(feats(0), Multimodal.pixelFeatures(
      Multimodal.MediaRow(1L, "image", ppm, 0L)).get))
    assert(same(feats(1), Multimodal.decodeStub(Multimodal.MediaRow(
      2L, "audio", "just some text bytes".getBytes, 0L))))
    val resized = Multimodal.resizeToFitDecoded(media, maxDim = 2)
      .collect().sortBy(_.media_id)
    // image: true 2x1 thumbnail re-encoded as PPM, decodable again
    assert(resized(0).out_w == 2L && resized(0).out_h == 1L)
    val thumb = Multimodal.decodePpm(resized(0).payload_out).get
    assert(thumb.rgb.grouped(3)
      .map(a => (a(0) & 0xff, a(1) & 0xff, a(2) & 0xff)).toSeq ==
      Seq(goldenPx(0), goldenPx(2)))
    // audio: byte-slice stub on the DECLARED geometry — 100x80 at
    // maxDim 2 gives 2x1 via the integer rule
    assert(resized(1).out_w == 2L && resized(1).out_h == 1L)
  }
}
