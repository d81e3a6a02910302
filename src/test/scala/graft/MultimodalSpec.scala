package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media table carries binary payloads with typed metadata") {
    val m = Multimodal.mediaTable(spark, SfDir)
    val r = m.toDF().select(col("doc_id"), length(col("payload")).as("n"),
      col("width"), col("height")).limit(5).collect()
    assert(r.nonEmpty && r.forall(_.getInt(2) > 0))
  }

  test("stub decode: histogram bins sum to n_bytes; ASCII payload mean") {
    val f = Multimodal.mediaFeatures(spark, SfDir)
    val bad = f.filter(
      col("hist_0") + col("hist_1") + col("hist_2") + col("hist_3")
        =!= col("n_bytes")).count()
    assert(bad == 0)
    // ASCII text: every byte < 128 → hist_2/hist_3 empty
    assert(f.filter(col("hist_2") + col("hist_3") > 0).count() == 0)
  }

  test("frame sampling: correct grid, full frames, every-kth kept") {
    val f = Multimodal.sampleFrames(spark, SfDir)
    import spark.implicits._
    val rows = f.select("doc_id", "frame_index", "n_bytes")
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // only every-kth frame index survives
    assert(rows.forall(_._2 % Multimodal.FrameEvery == 0))
    // all but a document's last sampled frame are exactly FrameBytes
    val lastIdx = rows.groupBy(_._1).view.mapValues(_.map(_._2).max)
    rows.foreach { case (d, i, n) =>
      if (i < lastIdx(d)) assert(n == Multimodal.FrameBytes)
      else assert(n > 0 && n <= Multimodal.FrameBytes)
    }
    // sampling with every=1 reconstructs the payload byte count
    val total = Multimodal.sampleFrames(spark, SfDir, every = 1)
      .groupBy(col("doc_id")).agg(sum("n_bytes").as("nb"))
    val src = Multimodal.mediaTable(spark, SfDir).toDF()
      .select(col("doc_id"), length(col("payload")).cast("long").as("pb"))
    assert(total.join(src, "doc_id")
      .filter(col("nb") =!= col("pb")).count() == 0)
  }

  test("decodePcm16: known waveform incl. negative samples and odd tail") {
    // bytes: [0x00,0x01] -> 256; [0xFF,0xFF] -> -1; [0x10,0x80] -> -32752;
    // trailing odd byte dropped
    val payload = Array[Byte](0x00, 0x01, 0xFF.toByte, 0xFF.toByte,
      0x10, 0x80.toByte, 0x7F)
    val r = Multimodal.decodePcm16(Seq(
      Multimodal.MediaRecord(1L, "audio/pcm", payload, 1, 1))).head
    assert(r.n_samples == 3)
    assert(r.peak == 32752L)
    assert(r.zero_cross == 1L) // 256 -> -1 flips; -1 -> -32752 doesn't
    val expectRms =
      math.sqrt((256L * 256 + 1 + 32752L * 32752).toDouble / 3)
    assert(math.abs(r.rms - expectRms) < 1e-9)
    // empty/1-byte payload yields no row, not a crash
    assert(Multimodal.decodePcm16(Seq(
      Multimodal.MediaRecord(2L, "audio/pcm", Array[Byte](1), 1, 1))).isEmpty)
  }

  test("pcmSilenceTrim: planted quiet-loud-quiet clip trims both " +
    "endpoints, keeps the interior; all-quiet clip keeps nothing") {
    val dir = java.nio.file.Files.createTempDirectory("pcmtrim").toString
    // PcmWindow=64 samples = 128 chars/window; uniform char c decodes
    // to sample c·257: ' ' → 8224 (ms 6.8e7, quiet), '~' → 32382
    // (ms 1.05e9, active vs the 6.5e8 floor). 512 chars = 4 windows.
    val quiet = " " * 512
    val loud = "~" * 512
    Seq((1L, quiet + loud + quiet), (2L, quiet))
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Multimodal.pcmSilenceTrim(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_windows"), x.getAs[Long]("lead_trim"),
          x.getAs[Long]("tail_trim"), x.getAs[Long]("kept_windows"),
          x.getAs[Long]("kept_ppm")))).toMap
    assert(r(1L) == ((12L, 4L, 4L, 4L, 333333L)), s"trim: ${r(1L)}")
    assert(r(2L) == ((4L, 4L, 0L, 0L, 0L)), s"all-quiet: ${r(2L)}")
  }

  test("imageEntropyLeg: flat image scores 0 bits; an even two-level " +
    "image scores exactly 1 bit; levels counted exactly") {
    def png(id: Long, w: Int, h: Int, px: Int => Int) = {
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      (0 until w * h).foreach(k =>
        bi.getRaster.setSample(k % w, k / w, 0, px(k)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "png", bos)
      Multimodal.MediaRecord(id, "image/png", bos.toByteArray, w, h)
    }
    val flat = png(1L, 4, 4, _ => 42) // one level -> H = 0
    val twoTone = png(2L, 4, 4, k => if (k % 2 == 0) 0 else 255)
    val r = Multimodal.imageEntropyLeg(Seq(flat, twoTone))
      .map(e => e.doc_id -> e).toMap
    // flat: n=16, one level c=16: n*bits(16) - 16*bits(16) = 0
    assert(r(1L).n_pixels == 16 && r(1L).n_levels == 1)
    assert(r(1L).h_bits_e6 == 0L && r(1L).max_bits_e6 == 1000000L)
    // two even levels of 8: 16*5 - 2*(8*4) = 16 -> (16*1e6)/16 = 1e6
    assert(r(2L).n_levels == 2 && r(2L).h_bits_e6 == 1000000L)
    assert(r(2L).max_bits_e6 == 2000000L)
    // corrupt payload quarantines
    assert(Multimodal.imageEntropyLeg(Seq(
      Multimodal.MediaRecord(3L, "image/png", Array[Byte](1, 2), 1, 1)))
      .isEmpty)
    // ADVICE r15: a 16-bit gray image scales by bit depth instead of
    // clamping — an even two-level USHORT image keeps its exact 1 bit
    // of entropy (the clamp collapsed it to a single 255 bin)
    val bi16 = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    (0 until 16).foreach(k => bi16.getRaster.setSample(
      k % 4, k / 4, 0, if (k % 2 == 0) 0 else 65535))
    val bos16 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi16, "png", bos16)
    val r16 = Multimodal.imageEntropyLeg(Seq(
      Multimodal.MediaRecord(4L, "image/png", bos16.toByteArray, 4, 4)))
    assert(r16.nonEmpty)
    assert(r16.head.n_levels == 2L, s"16-bit levels: ${r16.head}")
    assert(r16.head.h_bits_e6 == 1000000L, s"16-bit entropy: ${r16.head}")
  }

  test("dimProfile: aspect ppm exact from metadata, extreme and tiny " +
    "flags match a direct recompute") {
    val r = graft.multimodal.Multimodal.dimProfile(spark, SfDir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (_, w, h, px, asp, ext, tiny) =>
      assert(px == w * h)
      assert(asp == w * 1000000L / h)
      assert(ext == (if (asp > 3000000L || asp < 333333L) 1L else 0L))
      assert(tiny == (if (px < 256L) 1L else 0L))
    }
  }

  test("frameDups: repeated sampled frames ledger with struct-min " +
    "keeper; singleton fingerprints drop out") {
    val r = graft.multimodal.Multimodal.frameDups(spark, SfDir)
      .as[(String, Long, Long, Long, Long)].collect()
    // independent recount from the sampled-frame table itself
    val frames = graft.multimodal.Multimodal.sampleFrames(spark, SfDir)
      .select("frame_md5", "doc_id", "frame_index")
      .as[(String, Long, Long)].collect()
    val want = frames.groupBy(_._1).collect {
      case (fp, occ) if occ.length >= 2 =>
        val keep = occ.map(o => (o._2, o._3)).min
        fp -> ((occ.length.toLong, occ.map(_._2).distinct.length.toLong,
          keep._1, keep._2))
    }
    assert(r.map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap == want)
    assert(r.nonEmpty, "fixture has no duplicated frames")
  }

  test("decodePcmClipping: rail samples counted on both signs, ppm " +
    "exact, flag past the 1% bar, empty payload drops") {
    // samples: 31232 (clipped), 4096, -32752 (clipped) -> 2/3 clipped
    val hot = Array[Byte](0x00, 0x7A, 0x00, 0x10, 0x10, 0x80.toByte)
    // 1 of 1 below rail
    val calm = Array[Byte](0x00, 0x10)
    val r = Multimodal.decodePcmClipping(Seq(
      Multimodal.MediaRecord(1L, "audio/pcm", hot, 1, 1),
      Multimodal.MediaRecord(2L, "audio/pcm", calm, 1, 1),
      Multimodal.MediaRecord(3L, "audio/pcm", Array[Byte](), 1, 1)))
      .map(c => c.doc_id -> ((c.n_samples, c.n_clipped, c.clip_ppm,
        c.is_clipped))).toMap
    assert(r(1L) == ((3L, 2L, 666666L, 1L)))
    assert(r(2L) == ((1L, 0L, 0L, 0L)))
    assert(!r.contains(3L))
  }

  test("decodePcmWindows: exact per-window energies, short final " +
    "window, window boundary at exactly W samples") {
    // 3 samples with window=2: win0 = {256, -1}, win1 = {-32752}
    val payload = Array[Byte](0x00, 0x01, 0xFF.toByte, 0xFF.toByte,
      0x10, 0x80.toByte)
    val r = Multimodal.decodePcmWindows(Seq(
      Multimodal.MediaRecord(1L, "audio/pcm", payload, 1, 1)), win = 2)
    assert(r == Seq(
      Multimodal.PcmWindowEnergy(1L, 0L, 2L, 256L * 256 + 1),
      Multimodal.PcmWindowEnergy(1L, 1L, 1L, 32752L * 32752)))
    // exactly one full window -> exactly one row
    val two = Array[Byte](0x01, 0x00, 0x02, 0x00)
    val r2 = Multimodal.decodePcmWindows(Seq(
      Multimodal.MediaRecord(2L, "audio/pcm", two, 1, 1)), win = 2)
    assert(r2 == Seq(Multimodal.PcmWindowEnergy(2L, 0L, 2L, 5L)))
  }

  test("image leg: payloads are REAL PNGs and the decode round-trips " +
    "the deterministic pixel function exactly") {
    // text "abcd": len 4 → w = 5, h = 5; pixels cycle a,b,c,d,a,…
    val rec = {
      val text = "abcd"
      val w = 5; val h = 5
      val bi = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      (0 until w * h).foreach(k =>
        bi.getRaster.setSample(k % w, k / w, 0, text.charAt(k % 4).toInt))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, "png", bos)
      Multimodal.MediaRecord(7L, "image/png", bos.toByteArray, w, h)
    }
    // PNG magic bytes: the payload really is an encoded image
    val magic = rec.payload.take(4).map(_ & 0xff)
    assert(magic.sameElements(Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt)))
    val f = Multimodal.decodeImage(Seq(rec)).head
    assert(f.img_w == 5 && f.img_h == 5 && f.n_pixels == 25)
    // 25 pixels cycling 97,98,99,100: k%4==0 hits 7 times (k=0,4,…,24)
    val sum = 7 * 97 + 6 * 98 + 6 * 99 + 6 * 100
    assert(f.sum_px == sum)
    assert(f.mean_px_e6 == sum.toLong * 1000000L / 25)
    assert(f.edges == 0) // max horizontal step is 3 < EdgeThreshold
    // corrupt payload is quarantined, not a crash
    assert(Multimodal.decodeImage(Seq(Multimodal.MediaRecord(8L,
      "image/png", Array[Byte](1, 2, 3), 1, 1))).isEmpty)
    // end-to-end over the fixture: every doc decodes, dims match the
    // metadata rule
    val feats = Multimodal.imageFeatures(spark, SfDir)
    val docs = graft.core.Tables(spark, SfDir, "documents")
      .filter(length(col("text")) > 0)
    assert(feats.count() == docs.count())
    assert(feats.filter(col("img_w") =!= (col("n_pixels") / col("img_h")))
      .count() == 0)
  }

  test("decode batch shape: batches bounded by DecodeBatchSize") {
    val batchSizes = Multimodal.mediaTable(spark, SfDir)
      .mapPartitions(it => it.grouped(Multimodal.DecodeBatchSize)
        .map(_.size))(org.apache.spark.sql.Encoders.scalaInt)
      .collect()
    assert(batchSizes.forall(_ <= Multimodal.DecodeBatchSize))
  }

  test("ahash: flat images hash to all-zero bits; identical content " +
    "hashes identically; undersized grids drop") {
    def png(text: String): Array[Byte] = {
      val w = text.length % 64 + 1
      val h = text.length % 48 + 1
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      var k = 0
      while (k < w * h) {
        img.getRaster.setSample(k % w, k / w, 0,
          text.charAt(k % text.length).toInt & 0xff)
        k += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val flat = "z" * 20                       // 21×21, constant pixels
    val structured = ("a" * 30) + ("~" * 33)  // 64×16, half dark/bright
    val tiny = "abc"                          // 4×4 < 8×8 grid
    val recs = Seq(
      Multimodal.MediaRecord(1L, "image/png", png(flat), 21, 21),
      Multimodal.MediaRecord(2L, "image/png", png(structured), 64, 16),
      Multimodal.MediaRecord(3L, "image/png", png(flat), 21, 21),
      Multimodal.MediaRecord(4L, "image/png", png(tiny), 4, 4))
    val r = Multimodal.ahashImage(recs).map(x => x.doc_id -> x).toMap
    assert(!r.contains(4L))
    assert(r(1L).ahash == "0" * 64 && r(1L).n_ones == 0L)
    assert(r(1L).ahash == r(3L).ahash)
    assert(r(2L).n_ones > 0L &&
      r(2L).n_ones == r(2L).ahash.count(_ == '1').toLong)
  }

  test("ahashPairs: pigeonhole finds pairs within the Hamming bound " +
    "and spread flips fall outside every block") {
    import spark.implicits._
    val base = ("01" * 32).toCharArray
    def flip(pos: Int*) = {
      val c = base.clone()
      pos.foreach(p => c(p) = if (c(p) == '0') '1' else '0')
      new String(c)
    }
    val hashes = Seq(
      (1L, 16L, 16L, new String(base), 32L),
      (2L, 16L, 16L, flip(50, 51), 32L),         // 2 flips, block 3
      (3L, 16L, 16L, flip(1, 17, 33, 49), 32L),  // 1 flip per block
      (4L, 16L, 16L, "1" * 64, 64L))
      .toDF("doc_id", "img_w", "img_h", "ahash", "n_ones")
    val p = graft.multimodal.Multimodal.ahashPairs(hashes)
      .as[(Long, Long, Long)].collect().toSeq
    graft.core.SessionCache.endQuery()
    assert(p == Seq((1L, 2L, 2L)), p.toString)
  }

  test("resizeImage: 2x2 block floor means on a hand raster; " +
    "sub-block images quarantine out") {
    def png(w: Int, h: Int, vals: Array[Int]): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (k <- vals.indices)
        img.getRaster.setSample(k % w, k / w, 0, vals(k))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 3x3: one 2x2 block survives; col 2 and row 2 drop
    val r = Multimodal.resizeImage(Seq(
      Multimodal.MediaRecord(1L, "image/png",
        png(3, 3, Array(10, 20, 30, 41, 50, 60, 70, 80, 90)), 3, 3),
      Multimodal.MediaRecord(2L, "image/png",
        png(1, 5, Array(1, 2, 3, 4, 5)), 1, 5))) // w < 2 -> dropped
    assert(r.length == 1)
    val x = r.head
    // block (10+20+41+50) / 4 = 121 div 4 = 30 (floor binds)
    assert(x.out_w == 1L && x.out_h == 1L && x.px00 == 30L)
    assert(x.out_sum == 30L && x.out_mean_e6 == 30000000L)
  }

  test("pcmDownsampleLeg: signed floor pair means (floorDiv, not " +
    "truncate); trailing odd sample drops") {
    def pcm(samples: Seq[Int]): Array[Byte] =
      samples.flatMap(s =>
        Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray
    // [5, -3, 7]: one pair -> floorDiv(2, 2) = 1; the 7 drops
    val a = Multimodal.pcmDownsampleLeg(Seq(
      Multimodal.MediaRecord(1L, "audio/pcm", pcm(Seq(5, -3, 7)),
        1, 1))).head
    assert(a.n_in == 3L && a.n_out == 1L &&
      a.sum_abs_out == 1L && a.peak_out == 1L)
    // [-5, -4]: floorDiv(-9, 2) = -5 (truncation would say -4)
    val b = Multimodal.pcmDownsampleLeg(Seq(
      Multimodal.MediaRecord(2L, "audio/pcm", pcm(Seq(-5, -4)),
        1, 1))).head
    assert(b.sum_abs_out == 5L && b.peak_out == 5L)
    // a lone sample has no pair -> quarantined
    assert(Multimodal.pcmDownsampleLeg(Seq(
      Multimodal.MediaRecord(3L, "audio/pcm", pcm(Seq(9)), 1, 1)))
      .isEmpty)
  }
}
