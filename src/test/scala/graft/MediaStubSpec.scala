package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{MediaFixtures, MediaStub}
import graft.multimodal.MediaStub.{MediaMeta, MediaRecord}

/** Multimodal plumbing spec: binary columns survive the typed round-trip,
  * the per-partition decode parses REAL container headers (PNG IHDR,
  * JPEG SOFn marker walk, GIF screen descriptor, RIFF/WAVE fmt+data
  * chunks) against hand-built golden headers, digests match the native
  * sha2 expression, and frame sampling has the right
  * cardinality/offsets.
  */
class MediaStubSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def rec(id: Long, s: String, mime: String) =
    MediaRecord(id, s.getBytes(StandardCharsets.UTF_8), mime)

  test("decodeMeta digest matches the native sha2 expression") {
    import spark.implicits._
    val ds = Seq(rec(1, "hello world", "image/png"), rec(2, "", "audio/wav")).toDS()
    val meta = MediaStub.decodeMeta(ds).collect().sortBy(_.doc_id)
    val nativeSha = ds.toDF()
      .select(col("doc_id"), sha2(col("media"), 256).as("sha"))
      .as[(Long, String)].collect().toMap
    assert(meta.map(m => m.doc_id -> m.digest).toMap == nativeSha)
    assert(meta(0).n_bytes == 11)
    assert(meta(1).n_bytes == 0)
  }

  test("PNG IHDR golden: width/height read big-endian at offsets 16/20") {
    import spark.implicits._
    val ds = Seq(
      MediaRecord(1, MediaFixtures.png(640, 480, "pix".getBytes), "image/png"),
      MediaRecord(2, MediaFixtures.png(1, 2144, Array.empty), "image/png")).toDS()
    val meta = MediaStub.decodeMeta(ds).collect().sortBy(_.doc_id)
    assert(meta(0).width == 640 && meta(0).height == 480 && meta(0).n_frames == 1)
    assert(meta(1).width == 1 && meta(1).height == 2144)
    assert(meta(0).n_bytes == 33 + 3) // sig 8 + IHDR 25 + payload
    assert(meta(0).sample_rate == 0 && meta(0).channels == 0)
  }

  test("JPEG SOFn golden: marker walk skips APP segments, reads h then w") {
    import spark.implicits._
    val plain = MediaFixtures.jpeg(123, 456, "scan".getBytes)
    // APP0/JFIF segment BEFORE the SOF0 — the walk must skip it by length
    val app0 = Array(0xff, 0xe0, 0x00, 0x10).map(_.toByte) ++
      "JFIF".getBytes ++ new Array[Byte](10)
    val withApp0 = plain.take(2) ++ app0 ++ plain.drop(2)
    val ds = Seq(
      MediaRecord(1, plain, "image/jpeg"),
      MediaRecord(2, withApp0, "image/jpeg")).toDS()
    val meta = MediaStub.decodeMeta(ds).collect().sortBy(_.doc_id)
    assert(meta.forall(m => m.width == 123 && m.height == 456 && m.n_frames == 1))
    assert(meta(0).n_bytes == 23 + 4)
  }

  test("GIF golden: logical screen dims little-endian at offsets 6/8") {
    import spark.implicits._
    val gif = "GIF89a".getBytes ++
      Array((320 & 0xff).toByte, (320 >> 8).toByte, (200 & 0xff).toByte, (200 >> 8).toByte) ++
      new Array[Byte](4)
    val m = MediaStub.decodeMeta(Seq(MediaRecord(1, gif, "image/gif")).toDS()).head()
    assert(m.width == 320 && m.height == 200)
  }

  test("WAV golden: fmt chunk rate/channels, n_frames = data/blockAlign") {
    import spark.implicits._
    val ds = Seq(
      MediaRecord(1, MediaFixtures.wav(44100, 2, 1000), "audio/wav"),
      MediaRecord(2, MediaFixtures.wav(8000, 1, 5), "audio/wav")).toDS()
    val meta = MediaStub.decodeMeta(ds).collect().sortBy(_.doc_id)
    assert(meta(0).sample_rate == 44100 && meta(0).channels == 2 && meta(0).n_frames == 1000)
    assert(meta(0).n_bytes == 44 + 1000 * 2 * 2)
    assert(meta(1).sample_rate == 8000 && meta(1).channels == 1 && meta(1).n_frames == 5)
    assert(meta.forall(m => m.width == 0 && m.height == 0))
  }

  test("garbage and truncated headers decode to all-zero metadata, never a fake") {
    import spark.implicits._
    val truncatedPng = MediaFixtures.png(640, 480, Array.empty).take(12)
    val ds = Seq(
      MediaRecord(1, "not a container".getBytes, "image/png"),
      MediaRecord(2, truncatedPng, "image/png"),
      MediaRecord(3, Array.empty[Byte], "image/png"),
      MediaRecord(4, "definitely not an mp4 either!!".getBytes, "video/mp4")).toDS()
    val meta = MediaStub.decodeMeta(ds).collect()
    assert(meta.forall(m => m.width == 0 && m.height == 0 && m.n_frames == 0))
  }

  test("MP4 golden: box walk to mvhd/tkhd/stts reads dims and frame count") {
    import spark.implicits._
    val ds = Seq(
      MediaRecord(1, MediaFixtures.mp4(1920, 1080, 240, "framedata".getBytes), "video/mp4"),
      MediaRecord(2, MediaFixtures.mp4(16, 16, 1, Array.empty), "video/mp4")).toDS()
    val meta = MediaStub.decodeMeta(ds).collect().sortBy(_.doc_id)
    assert(meta(0).width == 1920 && meta(0).height == 1080 && meta(0).n_frames == 240)
    assert(meta(0).n_bytes == 288 + 9) // fixed ftyp+moov tree + mdat + payload
    assert(meta(0).sample_rate == 0 && meta(0).channels == 0)
    assert(meta(1).width == 16 && meta(1).height == 16 && meta(1).n_frames == 1)
  }

  test("MP4 box walk: unknown boxes skipped, multi-entry stts summed, v1 offsets") {
    import spark.implicits._
    // hand-build variants the fixture doesn't emit: a free box before
    // moov, two stts entries (100×delta1 + 50×delta2 = 150 samples), and
    // a version-1 mvhd/tkhd (64-bit times ⇒ shifted field offsets)
    def be32(v: Int): Array[Byte] = Array((v >>> 24).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(t: String, body: Array[Byte]): Array[Byte] =
      be32(8 + body.length) ++ t.getBytes ++ body
    val matrix = be32(0x10000) ++ be32(0) ++ be32(0) ++ be32(0) ++
      be32(0x10000) ++ be32(0) ++ be32(0) ++ be32(0) ++ be32(0x40000000)
    val stts2 = box("stts", be32(0) ++ be32(2) ++
      be32(100) ++ be32(1) ++ be32(50) ++ be32(2))
    val mvhdV1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++
      new Array[Byte](8) ++ new Array[Byte](8) ++ be32(600) ++ new Array[Byte](8) ++
      be32(0x10000) ++ Array[Byte](1, 0) ++ new Array[Byte](2) ++
      new Array[Byte](8) ++ matrix ++ new Array[Byte](24) ++ be32(2))
    val tkhdV1 = box("tkhd", Array[Byte](1, 0, 0, 7) ++
      new Array[Byte](8) ++ new Array[Byte](8) ++ be32(1) ++ be32(0) ++
      new Array[Byte](8) ++ new Array[Byte](8) ++ new Array[Byte](8) ++
      matrix ++ be32(640 << 16) ++ be32(360 << 16))
    val trak = box("trak", tkhdV1 ++ box("mdia", box("minf", box("stbl", stts2))))
    val payload = box("ftyp", "isom".getBytes ++ be32(0)) ++
      box("free", new Array[Byte](11)) ++
      box("moov", mvhdV1 ++ trak) ++ box("mdat", "xyz".getBytes)
    val m = MediaStub.decodeMeta(Seq(MediaRecord(1, payload, "video/mp4")).toDS()).head()
    assert(m.width == 640 && m.height == 360 && m.n_frames == 150)
  }

  test("video assets get sampled frame refs from the real stts frame count") {
    import spark.implicits._
    val ds = Seq(MediaRecord(7,
      MediaFixtures.mp4(320, 240, 101, ("x" * 1000).getBytes), "video/mp4")).toDS()
    val meta = MediaStub.decodeMeta(ds)
    val m = meta.head()
    assert(m.n_frames == 101)
    val frames = MediaStub.sampleFrames(meta, everyN = 10).collect().sortBy(_.frame_no)
    assert(frames.length == (m.n_frames + 9) / 10)
    assert(frames.head.frame_no == 0 && frames.head.byte_offset == 0L)
    // offsets follow the fixed stride layout
    val stride = math.max(1L, m.n_bytes.toLong / m.n_frames)
    assert(frames.forall(f => f.byte_offset == f.frame_no * stride))
  }

  test("binary column round-trips through a DataFrame unscathed") {
    import spark.implicits._
    val payload = Array[Byte](0, 1, -1, 127, -128, 60)
    val ds = Seq(MediaRecord(9, payload, "application/octet-stream")).toDS()
    val back = ds.toDF().as[MediaRecord].head()
    assert(back.media.toSeq == payload.toSeq)
  }

  test("resize plan preserves aspect ratio, never upscales, skips audio") {
    import spark.implicits._
    val meta = Seq(
      MediaMeta(1, "image/png", 10, "d", 4000, 2000, 1, 0, 0), // downscale, wide
      MediaMeta(2, "image/png", 10, "d", 100, 50, 1, 0, 0),    // already fits
      MediaMeta(3, "image/png", 10, "d", 50, 2000, 1, 0, 0),   // downscale, tall
      MediaMeta(4, "audio/wav", 10, "d", 0, 0, 100, 8000, 1))  // no pixel dims
      .toDS()
    val plans = MediaStub.planResize(meta, 512, 512).collect().sortBy(_.doc_id)
    assert(plans.length == 3) // the audio row has nothing to resize
    val p1 = plans(0)
    assert(p1.out_width == 512 && p1.out_height == 256) // aspect 2:1 kept
    assert(plans(1).out_width == 100 && plans(1).out_height == 50) // no upscale
    assert(plans(1).scale_e4 == 10000L)
    val p3 = plans(2)
    assert(p3.out_height == 512 && p3.out_width == math.floor(50 * 512.0 / 2000).toInt)
  }

  test("partition count does not change results (decoder-per-partition)") {
    import spark.implicits._
    val recs = (1L to 50L).map(i => rec(i, s"payload-$i", if (i % 2 == 0) "video/mp4" else "image/png"))
    def run(parts: Int): Seq[MediaMeta] =
      MediaStub.decodeMeta(recs.toDS().repartition(parts)).collect().sortBy(_.doc_id).toSeq
    assert(run(1) == run(8))
  }

  test("MP4 sample demux: stsz/stsc/stco walk recovers the exact payload slices") {
    val payload = (0 until 100).map(i => (i * 7 % 251).toByte).toArray
    val n = 17 // 3 chunks of 7/7/3 ⇒ two stsc runs
    val bytes = MediaFixtures.mp4Sampled(320, 240, n, payload)
    val samples = MediaStub.mp4Samples(bytes)
    assert(samples.map(_.frame_no) == (0 until n))
    // boundaries ⌊i·L/n⌋ partition the payload exactly
    val bounds = (0 to n).map(i => i * payload.length / n)
    assert(samples.map(_.n_bytes) == (0 until n).map(i => bounds(i + 1) - bounds(i)))
    assert(samples.map(_.n_bytes).sum == payload.length)
    // each slice's byte sum matches the payload recomputed directly
    (0 until n).foreach { i =>
      val expect = payload.slice(bounds(i), bounds(i + 1)).map(_ & 0xff).map(_.toLong).sum
      assert(samples(i).byte_sum == expect, s"sample $i")
    }
    // absolute offsets: sample bytes read back from the FILE equal the slice
    samples.foreach { sm =>
      val slice = bytes.slice(sm.byte_offset.toInt, sm.byte_offset.toInt + sm.n_bytes)
      assert(slice.map(_ & 0xff).map(_.toLong).sum == sm.byte_sum)
    }
    // mdat payload start matches the closed-form constant the oracle uses
    val c = (n + 6) / 7
    val e = if (n <= 7 || n % 7 == 0) 1 else 2
    assert(samples.head.byte_offset == 340 + 4 * n + 12 * e + 4 * c)
    // header-only mp4 (no sample tables) and truncated files demux to Nil
    assert(MediaStub.mp4Samples(MediaFixtures.mp4(320, 240, 5, payload)).isEmpty)
    assert(MediaStub.mp4Samples(bytes.take(bytes.length - payload.length / 2)).isEmpty)
    assert(MediaStub.mp4Samples(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("MP4 sample demux edge cases: empty payload, single chunk, n > L") {
    // empty payload: n zero-size samples all at the mdat start
    val empty = MediaStub.mp4Samples(MediaFixtures.mp4Sampled(16, 16, 5, Array.empty))
    assert(empty.length == 5 && empty.forall(_.n_bytes == 0))
    assert(empty.map(_.byte_offset).distinct.size == 1)
    assert(empty.forall(_.byte_sum == 0L))
    // single chunk (n <= 7): one stsc run
    val one = MediaStub.mp4Samples(MediaFixtures.mp4Sampled(16, 16, 3, "abcdef".getBytes))
    assert(one.map(_.n_bytes) == Seq(2, 2, 2))
    assert(one.map(_.byte_sum).sum == "abcdef".getBytes.map(_.toLong).sum)
    // more samples than bytes: some zero-size slices interleave
    val sparse = MediaStub.mp4Samples(MediaFixtures.mp4Sampled(16, 16, 9, "xy".getBytes))
    assert(sparse.length == 9 && sparse.map(_.n_bytes).sum == 2)
    assert(sparse.map(_.byte_sum).sum == 'x'.toLong + 'y'.toLong)
  }
}
