package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.operators.Multimodal

/** Multimodal queries: binary-column plumbing (metadata struct, frame
  * sampling) over text-derived payloads, byte-level header probes over
  * generated fixtures, and a REAL codec round trip — m_features
  * encodes PNGs with the JDK's ImageIO and decodes them back to true
  * pixel dimensions (see operators.Multimodal). Oracles state the
  * generating parameters the engine must recover.
  */
object MultimodalQueries {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.withBinary(t(s, dir, "documents"), "doc_id", "text", "text/plain")

  /** The rendered-PNG corpus shared by m_features / m_pixel_stats /
    * m_resize (identical fixture: one doc_id-parameterized truecolor
    * PNG per doc in a FIXED slice, `doc_id < 150` — like
    * `tripledCorpus`, the fixture is fixed-SIZE by construction at
    * any scale factor, so the one collect here is a bounded
    * fixture-build cost, never corpus-sized). The ENCODE side is
    * deterministic fixture build, so its bytes are rendered once per
    * data directory (distributed, then collected — ≤150 rasters of
    * ≤64×64) and re-materialized as a fresh frame per query; the
    * DECODE side — what each query actually proves — still runs
    * distributed and per query. Plain rows survive sweep runners
    * unpersisting checkpoint blocks between queries, where a cached
    * checkpointed frame would dangle.
    */
  private def pngCorpus(s: SparkSession, dir: String): DataFrame = {
    val rows = graft.TempDirs.once("png", dir) {
      import s.implicits._
      t(s, dir, "documents")
        .filter(col("doc_id") < 150)
        .select(col("doc_id"),
          (col("doc_id") % 64 + 1).cast("int").as("w"),
          ((col("doc_id") * 7) % 64 + 1).cast("int").as("h"))
        .as[(Long, Int, Int)]
        .mapPartitions(_.map { case (id, w, h) =>
          (id, Multimodal.renderPng(id, w, h))
        })
        .collect()
    }
    import s.implicits._
    s.createDataset(rows.toSeq).toDF("id", "content")
      .localCheckpoint(false)
  }

  /** Originals plus exact 2× NN-upscaled twins under id+100000 — the
    * perceptual-dedup fixture (same memo discipline as [[pngCorpus]]).
    */
  private def pngTwinCorpus(s: SparkSession, dir: String): DataFrame = {
    val twins = graft.TempDirs.once("png_twin", dir) {
      import s.implicits._
      t(s, dir, "documents")
        .filter(col("doc_id") < 150)
        .select(col("doc_id"),
          (col("doc_id") % 64 + 1).cast("int").as("w"),
          ((col("doc_id") * 7) % 64 + 1).cast("int").as("h"))
        .as[(Long, Int, Int)]
        .mapPartitions(_.map { case (id, w, h) =>
          (id + 100000L, Multimodal.renderPngScaled(id, w, h, 2))
        })
        .collect()
    }
    import s.implicits._
    pngCorpus(s, dir)
      .union(s.createDataset(twins.toSeq).toDF("id", "content")
        .localCheckpoint(false))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- perceptual image dedup: dHash (9×8 NN resample → row-wise
    //      brightness-gradient bits) over REAL decoded rasters,
    //      clustered by exact hash equality. The fixture plants an
    //      exact 2× NN upscale of every image under id+100000 — the
    //      hash is provably scale-invariant for NN upscales
    //      (⌊⌊2q⌋/2⌋ = ⌊q⌋), so every twin must share its original's
    //      cluster; degenerate-width images (w = 1 → all gradient
    //      bits 0) form one flat-image mega-cluster, exactly as flat
    //      images do in production perceptual dedup. Scale shape:
    //      hash is map-side per-partition decode; the output is the
    //      LINEAR cluster assignment (id → keeper, size) via one
    //      hash-key agg + join back — never the quadratic pair list
    //      a flat mega-cluster would explode ----
    "m_dhash_neardup" -> ((s, dir) => {
      val h = Multimodal.dHash(pngTwinCorpus(s, dir)).toDF()
        .filter(col("dhash").isNotNull)
      val cl = h.groupBy("dhash").agg(min(col("id")).as("keeper"),
        count(lit(1)).as("cluster_size"))
      h.join(cl, "dhash")
        .select(col("id"), col("keeper"), col("cluster_size"))
    }),

    "m_binary_meta" -> ((s, dir) => {
      media(s, dir).select(col("id"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.mime").as("mime"),
        col("meta.digest").as("digest"))
    }),

    // ---- REAL codec round trip: per-partition PNG ENCODE
    //      (BufferedImage → ImageIO.write) with doc_id-derived
    //      dimensions, then the REAL per-partition ImageIO DECODE —
    //      the oracle states the generating parameters and the engine
    //      must recover them from actual pixels. digest (md5 of the
    //      encoder's bytes) is intentionally not in the gated output:
    //      PNG byte streams are encoder-version-specific ----
    "m_features" -> ((s, dir) => {
      Multimodal.extractFeatures(pngCorpus(s, dir)).toDF()
        .select("id", "width", "height", "channels")
    }),

    "m_frame_sample" -> ((s, dir) => {
      Multimodal.sampleFrames(media(s, dir), 3)
    }),

    // ---- REAL video frames: build an uncompressed RIFF/AVI per doc
    //      (8×6 BGR24, doc_id%3+2 frames), demux the container with
    //      the RIFF walker, and prove every decoded frame's exact
    //      component sum against the generating function. No codec is
    //      involved — raw 'DIB ' frames — so this is an end-to-end
    //      container → frame → pixel pipeline; compressed '00dc'
    //      chunks remain the documented codec seam ----
    "m_avi_frames" -> ((s, dir) => {
      import s.implicits._
      val avis = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, Multimodal.renderAviRaw(id, 8, 6, (id % 3 + 2).toInt))))
        .toDF("id", "content")
      Multimodal.aviFrameStats(avis).toDF()
        .select("id", "frame_idx", "w", "h", "px_sum")
    }),

    // ---- REAL shot-boundary detection: scene-structured AVIs (the
    //      generating function cuts every 4 frames and drifts gently
    //      in between), demuxed with the RIFF walker, consecutive-
    //      frame SAD computed from actual pixel bytes, cut when the
    //      SAD clears 9000 (within-scene SAD ≤ 3·(47·3+253) = 1182 by
    //      the drift construction; a cut ≥ 3·48·122 = 17568 — the
    //      threshold sits in the gap, so detection is exact, and the
    //      oracle replays the full generating function). 9–11 frames
    //      per doc. Shape: one per-partition demux pass, zero
    //      shuffles before the tiny result. ----
    "m_scene_changes" -> ((s, dir) => {
      import s.implicits._
      val avis = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, Multimodal.renderAviScenes(id, 8, 6, (id % 3 + 9).toInt))))
        .toDF("id", "content")
      Multimodal.aviSceneDiffs(avis).toDF()
        .select(col("id"), col("frame_idx"), col("sad"),
          (col("sad") > 9000L).as("is_cut"))
    }),

    // ---- codec inventory over a mixed-container corpus (raw-DIB AVI /
    //      MJPEG AVI / foreign-codec 'H264' AVI / MP4, by doc_id % 4):
    //      the budgeting pass a 100 TB multimodal scan runs BEFORE
    //      scheduling decode work — header walks only, no pixel decode,
    //      no shuffle — so the pipeline knows upfront what fraction of
    //      the corpus its decoders cover (here: raw + MJPG decodable,
    //      H264 and MP4 routed to the documented NULL seam) ----
    "m_codec_inventory" -> ((s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = (id % 4) match {
            case 0 => Multimodal.renderAviRaw(id, 8, 6, (id % 3 + 2).toInt)
            case 1 =>
              val frames = (0 until (id % 2 + 1).toInt).map { f =>
                val img = new java.awt.image.BufferedImage(8, 6,
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
                val v = ((id * 31 + f * 17) % 256).toInt
                val rgb = (v << 16) | (v << 8) | v
                var y = 0
                while (y < 6) {
                  var x = 0
                  while (x < 8) { img.setRGB(x, y, rgb); x += 1 }
                  y += 1
                }
                img
              }
              Multimodal.renderAviMjpeg(8, 6, frames)
            case 2 => Multimodal.renderAviCompressed(8, 6, "H264",
              (0 until (id % 3 + 1).toInt).map(f =>
                Array.tabulate[Byte](16)(j =>
                  ((id + f * 31L + j) % 256).toByte)))
            case _ =>
              val b = java.nio.ByteBuffer.allocate(16)
              b.putInt(16); b.put("ftypisom".getBytes("US-ASCII"))
              b.putInt(0)
              b.array()
          }
          (id, bytes)
        }).toDF("id", "content")
      Multimodal.codecInventory(media).toDF()
        .select("id", "container", "codec", "n_video_chunks", "decodable")
    }),

    // ---- PIXEL-level round trip: encode deterministic rasters, decode
    //      with the real reader, and prove the decoded PIXELS (exact
    //      integer component sum), not just the header dimensions.
    //      PNG truecolor is lossless, so the oracle can state the sum
    //      in closed form from the generating function ----
    "m_pixel_stats" -> ((s, dir) => {
      Multimodal.pixelStats(pngCorpus(s, dir)).toDF()
        .select("id", "n_px", "px_sum")
    }),

    // ---- REAL resize (nearest-neighbor, explicit integer sampling)
    //      of the decoded raster to 8×6; the oracle predicts the exact
    //      component sum of the RESIZED image from the generating
    //      function — proving decode + kernel, not just dimensions ----
    "m_resize" -> ((s, dir) => {
      Multimodal.resizeStats(pngCorpus(s, dir), 8, 6).toDF()
        .select("id", "rw", "rh", "px_sum")
    }),

    // ---- SAMPLE-level audio round trip through javax.sound.sampled:
    //      real WAVE encode, real decode, exact PCM sample sum ----
    "m_audio_stats" -> ((s, dir) => {
      import s.implicits._
      val wavs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.renderWav(id))))
        .toDF("id", "content")
      Multimodal.audioStats(wavs).toDF()
        .select("id", "n_samples", "sample_sum", "sample_rate")
    }),

    // ---- fixed-point spectrogram over REAL decoded PCM: 8-point DFT
    //      per non-overlapping frame, bins 1..3, with an e3 integer
    //      trig table (cos/sin·1000) shared verbatim with the oracle —
    //      every output is exact BIGINT arithmetic, no libm on either
    //      engine. The WAV bytes are rendered through the real encoder
    //      and decoded through the real javax.sound reader; the oracle
    //      replays the closed-form sample generator in list algebra.
    //      Shapes: per-partition decode, then pure map-side column
    //      algebra (explode frames × bins, aggregate() dot products) —
    //      zero shuffles before the driver collects nothing. ----
    "m_spectrogram" -> ((s, dir) => {
      import s.implicits._
      // measured r17: Par.spread before the render maps is a net LOSS
      // across the whole m_* render family (m_spectrogram 0.73→1.64 s
      // warm; total task CPU 0.5→40 s) — the per-doc render/decode is
      // tiny and the per-task media-framework setup dominates once the
      // work is split 32 ways. Left at scan width deliberately.
      val wavs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.renderWav(id))))
        .toDF("id", "content")
      val cosT = "array(1000, 707, 0, -707, -1000, -707, 0, 707)"
      val sinT = "array(0, 707, 1000, 707, 0, -707, -1000, -707)"
      def dot(tab: String) =
        "aggregate(sequence(0, 7), cast(0 as bigint), (acc, n) -> " +
          "acc + cast(element_at(samples, f * 8 + n + 1) as bigint) * " +
          s"element_at($tab, int((k * n) % 8) + 1))"
      Multimodal.audioSamples(wavs).toDF()
        .filter(col("samples").isNotNull && size(col("samples")) >= 8)
        .select(col("id").as("doc_id"), col("samples"),
          explode(expr("sequence(0, int(size(samples) div 8) - 1)")).as("f"))
        .select(col("doc_id"), col("samples"), col("f"),
          explode(expr("array(1, 2, 3)")).as("k"))
        .select(col("doc_id"), col("f").cast("long").as("frame"),
          col("k").as("bin"),
          expr(dot(cosT)).as("x_e3"), expr(dot(sinT)).as("y_e3"))
        .withColumn("p_e6",
          col("x_e3") * col("x_e3") + col("y_e3") * col("y_e3"))
    }),

    // ---- energy-based activity segmentation (VAD shape) over REAL
    //      decoded PCM: activity-structured WAVs (8-sample blocks,
    //      loud |s| >= 16384 when (id+block)%3 != 0, quiet |s| <= 64),
    //      frame |s|-energy from the javax.sound decode, frames above
    //      65536 merged into segments by the gaps-and-islands
    //      row_number trick. The construction separates by 256x, so
    //      detection is exact and the oracle replays the generator.
    //      Shapes: per-partition decode + map-side frame algebra; the
    //      islands window partitions per doc, bounded by frames/doc ----
    "m_audio_segments" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wavs = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, Multimodal.renderWavSegments(id))))
        .toDF("id", "content")
      val frames = Multimodal.audioSamples(wavs).toDF()
        .filter(col("samples").isNotNull)
        .select(col("id"),
          explode(expr("sequence(0, int(size(samples) div 8) - 1)")).as("f"),
          col("samples"))
        .select(col("id"), col("f"),
          expr("aggregate(sequence(0, 7), cast(0 as bigint), (acc, n) -> " +
            "acc + abs(cast(element_at(samples, f * 8 + n + 1) as bigint)))")
            .as("energy"))
        .filter(col("energy") > 65536L)
      val grp = col("f") - row_number().over(
        Window.partitionBy("id").orderBy(col("f").asc))
      frames.withColumn("grp", grp)
        .groupBy(col("id"), col("grp"))
        .agg(min(col("f")).as("seg_start"), max(col("f")).as("seg_end"),
          count(lit(1)).as("n_frames"), sum(col("energy")).as("energy_sum"))
        .drop("grp")
    }),

    // ---- REAL WAV header parsing: build canonical RIFF/fmt headers
    //      with rate/channels derived from doc_id (little-endian words
    //      byte-swapped at build time), read them back through the
    //      column-arithmetic probe ----
    "m_wav_meta" -> ((s, dir) => {
      val channels = (col("doc_id") % 2 + 1).cast("int")
      val rate = (lit(8000) + (col("doc_id") % 8) * 4000).cast("int")
      def le2(v: org.apache.spark.sql.Column) = {
        val h = lpad(hex(v), 4, "0")
        concat(substring(h, 3, 2), substring(h, 1, 2))
      }
      def le4(v: org.apache.spark.sql.Column) = {
        val h = lpad(hex(v), 8, "0")
        concat(substring(h, 7, 2), substring(h, 5, 2),
          substring(h, 3, 2), substring(h, 1, 2))
      }
      val wav = unhex(concat(
        lit("52494646" + "24000000" + "57415645666D7420" + "10000000" + "0100"),
        le2(channels), le4(rate),
        lit("00000000" + "0400"), le2(lit(16))))
      val (isWav, ch, sr, bits) = Multimodal.wavMeta(col("content"))
      t(s, dir, "documents")
        .select(col("doc_id"), wav.as("content"))
        .select(col("doc_id"), isWav.as("is_wav"), ch.as("channels"),
          sr.as("sample_rate"), bits.as("bits"))
    }),

    // ---- REAL MP4/ISO-BMFF parsing via the native Mp4Meta
    //      expression: box walk over ftyp → moov → mvhd(v0), read
    //      timescale + duration; fixture generated from doc_id and
    //      recovered through the probe (round-trip oracle) ----
    "m_mp4_meta" -> ((s, dir) => {
      val timescale = (col("doc_id") % 48000 + 600).cast("int")
      val duration = (col("doc_id") * 7919 % 1000000).cast("int")
      def be4(v: org.apache.spark.sql.Column) = lpad(hex(v), 8, "0")
      val mp4 = unhex(concat(
        lit("00000010" + "66747970" + "69736F6D" + "00000000"), // ftyp isom
        lit("00000024" + "6D6F6F76"),                           // moov (36)
        lit("0000001C" + "6D766864" + "00000000"),              // mvhd v0
        lit("00000000" + "00000000"),                           // ctime mtime
        be4(timescale), be4(duration)))
      val meta = graft.expressions.MediaExprs.mp4Meta(col("content"))
      t(s, dir, "documents")
        .select(col("doc_id"), mp4.as("content"))
        .select(col("doc_id"),
          meta.getField("timescale").as("timescale"),
          meta.getField("duration").as("duration"),
          meta.getField("version").as("version"))
    }),

    // ---- REAL JPEG parsing via the native JpegDims expression: walk
    //      the segment chain (APP0 skipped by its length word) to the
    //      SOF marker, read the dimension words; the oracle asserts the
    //      generate-then-parse round trip ----
    "m_jpeg_dims" -> ((s, dir) => {
      val h = (col("doc_id") % 900 + 1).cast("int")
      val w = ((col("doc_id") * 3) % 1200 + 1).cast("int")
      val jpg = unhex(concat(
        lit("FFD8FFE00004AABBFFC0001108"), // SOI, APP0(skip), SOF0, prec
        lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
        lit("03011100021100031100")))      // 3 component specs
      val dims = graft.expressions.ImageExprs.jpegDims(col("content"))
      t(s, dir, "documents")
        .select(col("doc_id"), jpg.as("content"))
        .select(col("doc_id"),
          dims.getField("width").as("width"),
          dims.getField("height").as("height"))
    }),

    // ---- EXIF orientation probe: APP1 walked to the TIFF IFD in
    //      BOTH byte orders (doc_id parity picks II vs MM), the
    //      rotate/flip flag every camera writes recovered through the
    //      native expression; every 31st doc carries a truncated APP1
    //      and must probe null. Oracle is the CLOSED FORM the fixture
    //      encodes (doc_id % 8 + 1), so the gate checks the parser's
    //      semantics, not a SQL re-implementation ----
    "m_exif_orientation" -> ((s, dir) => {
      val orient = (col("doc_id") % 8 + 1).cast("int")
      val beVal = concat(lpad(hex(orient), 4, "0"), lit("0000"))
      val leVal = concat(lpad(hex(orient), 2, "0"), lit("000000"))
      val tiffBe = concat(lit("4D4D002A00000008" + "0001" + "01120003" +
        "00000001"), beVal, lit("00000000"))
      val tiffLe = concat(lit("49492A0008000000" + "0100" + "12010300" +
        "01000000"), leVal, lit("00000000"))
      val app1 = concat(lit("FFD8FFE10022457869660000"),
        when(col("doc_id") % 2 === 0, tiffBe).otherwise(tiffLe))
      val bytes = unhex(when(col("doc_id") % 31 === 0,
        lit("FFD8FFE10006457869")).otherwise(app1)) // truncated APP1
      t(s, dir, "documents")
        .select(col("doc_id"), bytes.as("content"))
        .select(col("doc_id"),
          graft.expressions.ImageExprs.exifOrientation(col("content"))
            .as("orientation"))
    }),

    // ---- REAL GIF header parsing: GIF89a magic + little-endian
    //      screen dimensions, generated from doc_id and recovered
    //      through the byte-level probe ----
    "m_gif_dims" -> ((s, dir) => {
      val w = (col("doc_id") % 1600 + 1).cast("int")
      val h = ((col("doc_id") * 5) % 1200 + 1).cast("int")
      def le2(v: org.apache.spark.sql.Column) = {
        val x = lpad(hex(v), 4, "0")
        concat(substring(x, 3, 2), substring(x, 1, 2))
      }
      val gif = unhex(concat(lit("474946383961"), le2(w), le2(h), lit("F70000")))
      val (isGif, width, height) = Multimodal.gifDims(col("content"))
      t(s, dir, "documents")
        .select(col("doc_id"), gif.as("content"))
        .select(col("doc_id"), isGif.as("is_gif"),
          width.as("width"), height.as("height"))
    }),

    // ---- REAL ID3v2 parsing: "ID3" magic + major version + the
    //      28-bit SYNCSAFE tag size (7 bits per byte), generated from
    //      doc_id and recovered through the byte-level probe ----
    "m_id3_meta" -> ((s, dir) => {
      val ver = (col("doc_id") % 2 + 3).cast("long")
      def sb(shift: Int) = lpad(hex(expr(
        s"CAST(doc_id * 131071 % 268435456 AS BIGINT) div ${1L << shift} % 128")),
        2, "0")
      val id3 = unhex(concat(lit("494433"),
        lpad(hex(ver), 2, "0"), lit("0000"),
        sb(21), sb(14), sb(7), sb(0)))
      val (isId3, version, tagSize) = Multimodal.id3Meta(col("content"))
      t(s, dir, "documents")
        .select(col("doc_id"), id3.as("content"))
        .select(col("doc_id"), isId3.as("is_id3"),
          version.as("version"), tagSize.as("tag_size"))
    }),

    // ---- REAL BMP header parsing: "BM" magic + little-endian SIGNED
    //      int32 dimensions; every third image is stored top-down
    //      (negative height) to exercise the sign fold a real raster
    //      reader performs ----
    "m_bmp_dims" -> ((s, dir) => {
      val w = (col("doc_id") % 2048 + 1).cast("long")
      val mag = ((col("doc_id") * 3) % 2048 + 1).cast("long")
      val h = when(col("doc_id") % 3 === 0, -mag).otherwise(mag)
      def le4(v: org.apache.spark.sql.Column) = {
        // two's-complement 32-bit, least-significant byte first
        val u = ((v % 4294967296L) + 4294967296L) % 4294967296L
        val x = lpad(hex(u), 8, "0")
        concat(substring(x, 7, 2), substring(x, 5, 2),
          substring(x, 3, 2), substring(x, 1, 2))
      }
      val bmp = unhex(concat(
        lit("424D" + "00000000" + "00000000" + "36000000" + "28000000"),
        le4(w), le4(h), lit("0100180000000000")))
      val (isBmp, width, height) = Multimodal.bmpDims(col("content"))
      t(s, dir, "documents")
        .select(col("doc_id"), bmp.as("content"))
        .select(col("doc_id"), isBmp.as("is_bmp"),
          width.as("width"), height.as("height"))
    }),

    // ---- REAL header parsing: build valid PNG-headered binaries with
    //      dimensions derived from doc_id, parse them back through the
    //      actual byte-level IHDR reader — the oracle asserts the
    //      round trip recovers the generating parameters ----
    "m_png_dims" -> ((s, dir) => {
      val w = (col("doc_id") % 1024 + 1).cast("long")
      val h = ((col("doc_id") * 7) % 1024 + 1).cast("long")
      val png = unhex(concat(
        lit("89504E470D0A1A0A0000000D49484452"), // signature + IHDR
        lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
        lit("0806000000"))) // bit depth, color type, filler
      val (isPng, width, height) = Multimodal.pngDims(col("content"))
      t(s, dir, "documents")
        .select(col("doc_id"), png.as("content"))
        .select(col("doc_id"), isPng.as("is_png"),
          width.as("width"), height.as("height"))
    }),

    // ---- byte-distribution entropy: the binary-junk screen — natural
    //      text sits ~3-4.5 nats, compressed/encrypted blobs ~ln(256).
    //      Computed over the payload bytes (UTF-8 of text here, so the
    //      oracle can replicate char-wise); per-byte -p·ln(p) terms are
    //      rounded to 4 decimals (the ln/libm absorption margin — at 9
    //      decimals a ~1-ulp JVM/DuckDB log divergence can straddle a
    //      rounding boundary) and summed as exact DECIMAL so the
    //      doc-level sum is partition-order independent ----
    "m_byte_entropy" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val chars = d.select(col("doc_id"), length(col("text")).as("len"),
        explode(split(col("text"), "")).as("ch"))
      val p = col("c").cast("double") / col("len").cast("double")
      chars.groupBy("doc_id", "len", "ch").agg(count(lit(1)).as("c"))
        .select(col("doc_id"),
          round(p * log(p), 4).cast("decimal(18,4)").as("term"))
        .groupBy("doc_id")
        .agg((-sum(col("term"))).cast("double").as("entropy_nats"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "m_binary_meta" ->
      """SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        | 'text/plain' AS mime, md5(text) AS digest
        |FROM documents""".stripMargin,

    // generating parameters of the encode side; TYPE_INT_RGB decodes
    // back with a 3-component color model
    "m_features" ->
      """SELECT doc_id AS id,
        | CAST(doc_id % 64 + 1 AS INT) AS width,
        | CAST((doc_id * 7) % 64 + 1 AS INT) AS height,
        | 3 AS channels
        |FROM documents WHERE doc_id < 150""".stripMargin,

    "m_frame_sample" ->
      """SELECT doc_id AS id, b AS frame_idx,
        | md5(text) || ':' || CAST(b AS VARCHAR) AS frame_key,
        | CAST((b * octet_length(encode(text))) // 3 AS BIGINT) AS byte_offset,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents CROSS JOIN (SELECT unnest(range(0, 3)) AS b)""".stripMargin,

    // closed-form replay of the AVI generating function: every
    // component of pixel p in frame f is (id*31 + f*7 + p) mod 256,
    // three components per pixel over the 8×6 raster — what the
    // demuxed raw frames must add up to exactly
    "m_avi_frames" ->
      """WITH fr AS (
        |  SELECT doc_id, unnest(range(0, CAST(doc_id % 3 + 2 AS BIGINT))) AS f
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, f, unnest(range(0, 48)) AS p FROM fr)
        |SELECT doc_id AS id, CAST(f AS INT) AS frame_idx,
        |  8 AS w, 6 AS h,
        |  CAST(3 * SUM((doc_id * 31 + f * 7 + p) % 256) AS BIGINT) AS px_sum
        |FROM px GROUP BY doc_id, f""".stripMargin,

    // closed-form replay of the activity generator: i = f·8 + n,
    // loud blocks (id+f)%3 != 0 carry |s| >= 16384, quiet <= 64;
    // islands of frames over 65536 merge via the row_number trick
    "m_audio_segments" ->
      """WITH fr AS (SELECT doc_id, unnest(range(0, 8)) AS f FROM documents),
        |sm AS (SELECT doc_id, f, unnest(range(0, 8)) AS n FROM fr),
        |sv AS (SELECT doc_id, f,
        |    SUM(ABS(CASE WHEN (doc_id + f) % 3 <> 0
        |      THEN (CASE WHEN (f*8+n) % 2 = 1 THEN 1 ELSE -1 END)
        |           * (16384 + (doc_id*31 + (f*8+n)*17) % 16384)
        |      ELSE (doc_id*31 + (f*8+n)*17) % 129 - 64 END)) AS energy
        |  FROM sm GROUP BY doc_id, f),
        |act AS (SELECT doc_id, f, energy,
        |    f - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS grp
        |  FROM sv WHERE energy > 65536)
        |SELECT doc_id AS id, MIN(f) AS seg_start, MAX(f) AS seg_end,
        |  COUNT(*) AS n_frames, CAST(SUM(energy) AS BIGINT) AS energy_sum
        |FROM act GROUP BY doc_id, grp""".stripMargin,

    // closed-form replay of the scene generating function
    // v(f,p) = (id·31 + (f//4)·131 + f·3 + p·5) mod 256: the SAD of
    // adjacent frames is 3·Σ_p |v(f,p) − v(f−1,p)| over the 8×6=48
    // raster (3 equal components per pixel)
    "m_scene_changes" ->
      """WITH fr AS (
        |  SELECT doc_id, unnest(range(1, CAST(doc_id % 3 + 9 AS BIGINT))) AS f
        |  FROM documents),
        |px AS (SELECT doc_id, f, unnest(range(0, 48)) AS p FROM fr),
        |d AS (
        |  SELECT doc_id, f,
        |    3 * SUM(ABS(
        |      (doc_id * 31 + (f // 4) * 131 + f * 3 + p * 5) % 256
        |      - (doc_id * 31 + ((f - 1) // 4) * 131 + (f - 1) * 3 + p * 5)
        |        % 256)) AS sad
        |  FROM px GROUP BY doc_id, f)
        |SELECT doc_id AS id, CAST(f AS INT) AS frame_idx,
        |  CAST(sad AS BIGINT) AS sad, sad > 9000 AS is_cut
        |FROM d""".stripMargin,

    // the inventory is a pure function of the generating corpus:
    // doc_id % 4 selects the container/codec, the chunk counts are the
    // fixture's frame counts, and decodability is exactly {raw, MJPG}
    "m_codec_inventory" ->
      """SELECT doc_id AS id,
        |  CASE WHEN doc_id % 4 = 3 THEN 'mp4' ELSE 'avi' END AS container,
        |  CASE doc_id % 4 WHEN 0 THEN 'DIB ' WHEN 1 THEN 'MJPG'
        |       WHEN 2 THEN 'H264' ELSE 'isom' END AS codec,
        |  CAST(CASE doc_id % 4 WHEN 0 THEN doc_id % 3 + 2
        |       WHEN 1 THEN doc_id % 2 + 1
        |       WHEN 2 THEN doc_id % 3 + 1 ELSE 0 END AS INT)
        |    AS n_video_chunks,
        |  doc_id % 4 IN (0, 1) AS decodable
        |FROM documents""".stripMargin,

    // closed-form pixel-component sum of the generating function
    // v(x,y) = (id*2654435761 + 7x + 131y) & 0xFFFFFF, summed as
    // (v>>16) + ((v>>8)&255) + (v&255) over the w×h raster — what the
    // decoded PNG must add up to exactly (lossless truecolor)
    "m_pixel_stats" ->
      """SELECT doc_id AS id,
        | CAST((doc_id % 64 + 1) * ((doc_id * 7) % 64 + 1) AS BIGINT) AS n_px,
        | CAST(list_sum(flatten(list_transform(
        |   range(0, (doc_id * 7) % 64 + 1), y ->
        |     list_transform(range(0, doc_id % 64 + 1), x ->
        |       (((doc_id * 2654435761 + x * 7 + y * 131) & 16777215) >> 16)
        |       + ((((doc_id * 2654435761 + x * 7 + y * 131) & 16777215) >> 8) & 255)
        |       + ((doc_id * 2654435761 + x * 7 + y * 131) & 255)))))
        |  AS BIGINT) AS px_sum
        |FROM documents WHERE doc_id < 150""".stripMargin,

    // nearest-neighbor resize to 8×6: src pixel (x2·w)//8, (y2·h)//6 —
    // same generating-function components as m_pixel_stats, sampled at
    // the kernel's source coordinates (term built programmatically so
    // the three component extractions share one balanced expression)
    "m_dhash_neardup" -> {
      // closed-form dHash replay: member (base, sc) samples the base
      // pattern at ((x2·w·sc)//9)//sc — the nested floor that makes
      // the 2× twin provably hash-identical
      def bright(xe: String, ye: String): String = {
        val xx = s"((($xe) * (base % 64 + 1) * sc) // 9) // sc"
        val yy = s"((($ye) * ((base * 7) % 64 + 1) * sc) // 8) // sc"
        val t = s"(base * 2654435761 + ($xx) * 7 + ($yy) * 131)"
        s"((($t & 16777215) >> 16) + ((($t & 16777215) >> 8) & 255)" +
          s" + ($t & 255))"
      }
      s"""WITH m AS (
         |  SELECT doc_id AS id, doc_id AS base, 1 AS sc FROM documents
         |  WHERE doc_id < 150
         |  UNION ALL
         |  SELECT doc_id + 100000, doc_id, 2 FROM documents
         |  WHERE doc_id < 150),
         |h AS (SELECT id, array_to_string(flatten(list_transform(
         |    range(0, 8), y2 -> list_transform(range(0, 8), x2 ->
         |      CASE WHEN ${bright("x2 + 1", "y2")} > ${bright("x2", "y2")}
         |           THEN '1' ELSE '0' END))), '') AS dhash
         |  FROM m),
         |cl AS (SELECT dhash, MIN(id) AS keeper, COUNT(*) AS cluster_size
         |  FROM h GROUP BY dhash)
         |SELECT id, keeper, cluster_size FROM h JOIN cl USING (dhash)"""
        .stripMargin
    },

    "m_resize" -> {
      val term = "(doc_id * 2654435761" +
        " + ((x2 * (doc_id % 64 + 1)) // 8) * 7" +
        " + ((y2 * ((doc_id * 7) % 64 + 1)) // 6) * 131)"
      val comps = s"((($term & 16777215) >> 16)" +
        s" + ((($term & 16777215) >> 8) & 255)" +
        s" + ($term & 255))"
      s"""SELECT doc_id AS id, 8 AS rw, 6 AS rh,
         | CAST(list_sum(flatten(list_transform(range(0, 6), y2 ->
         |   list_transform(range(0, 8), x2 -> $comps)))) AS BIGINT)
         |  AS px_sum
         |FROM documents WHERE doc_id < 150""".stripMargin
    },

    // closed-form PCM sample sum: n = id%50+10 samples of
    // (id*31 + i*17) mod 2^16 - 2^15 at 8 kHz
    "m_audio_stats" ->
      """SELECT doc_id AS id,
        | CAST(doc_id % 50 + 10 AS BIGINT) AS n_samples,
        | CAST(list_sum(list_transform(range(0, doc_id % 50 + 10),
        |   i -> (doc_id * 31 + i * 17) % 65536 - 32768)) AS BIGINT)
        |  AS sample_sum,
        | 8000 AS sample_rate
        |FROM documents""".stripMargin,

    "m_spectrogram" ->
      """WITH pcm AS (
        |  SELECT doc_id,
        |    list_transform(range(0, doc_id % 50 + 10),
        |      i -> (doc_id * 31 + i * 17) % 65536 - 32768) AS s
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, s, unnest(range(0, len(s) // 8)) AS f
        |  FROM pcm WHERE len(s) >= 8),
        |fb AS (SELECT doc_id, s, f, unnest([1, 2, 3]) AS k FROM fr),
        |xy AS (
        |  SELECT doc_id, f, k,
        |    CAST(list_sum(list_transform(range(0, 8), n ->
        |      CAST(s[CAST(f * 8 + n + 1 AS INT)] AS BIGINT) *
        |      ([1000, 707, 0, -707, -1000, -707, 0, 707])[CAST((k * n) % 8 + 1 AS INT)]))
        |      AS BIGINT) AS x_e3,
        |    CAST(list_sum(list_transform(range(0, 8), n ->
        |      CAST(s[CAST(f * 8 + n + 1 AS INT)] AS BIGINT) *
        |      ([0, 707, 1000, 707, 0, -707, -1000, -707])[CAST((k * n) % 8 + 1 AS INT)]))
        |      AS BIGINT) AS y_e3
        |  FROM fb)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame, CAST(k AS INT) AS bin,
        |  x_e3, y_e3, x_e3 * x_e3 + y_e3 * y_e3 AS p_e6
        |FROM xy""".stripMargin,

    "m_mp4_meta" ->
      """SELECT doc_id,
        | CAST(doc_id % 48000 + 600 AS INT) AS timescale,
        | CAST(doc_id * 7919 % 1000000 AS BIGINT) AS duration,
        | 0 AS version
        |FROM documents""".stripMargin,

    "m_wav_meta" ->
      """SELECT doc_id, true AS is_wav,
        | CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
        | CAST(8000 + (doc_id % 8) * 4000 AS BIGINT) AS sample_rate,
        | CAST(16 AS BIGINT) AS bits
        |FROM documents""".stripMargin,

    "m_id3_meta" ->
      """SELECT doc_id, true AS is_id3,
        | CAST(doc_id % 2 + 3 AS BIGINT) AS version,
        | CAST(doc_id * 131071 % 268435456 AS BIGINT) AS tag_size
        |FROM documents""".stripMargin,

    // the oracle states the generating parameters; the engine must
    // recover them (height = magnitude: top-down sign folded out)
    "m_bmp_dims" ->
      """SELECT doc_id, true AS is_bmp,
        | CAST(doc_id % 2048 + 1 AS BIGINT) AS width,
        | CAST((doc_id * 3) % 2048 + 1 AS BIGINT) AS height
        |FROM documents""".stripMargin,

    "m_jpeg_dims" ->
      """SELECT doc_id,
        | CAST((doc_id * 3) % 1200 + 1 AS INT) AS width,
        | CAST(doc_id % 900 + 1 AS INT) AS height
        |FROM documents""".stripMargin,

    "m_exif_orientation" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 31 = 0 THEN NULL
        |      ELSE CAST(doc_id % 8 + 1 AS INT) END AS orientation
        |FROM documents""".stripMargin,

    "m_gif_dims" ->
      """SELECT doc_id, true AS is_gif,
        | CAST(doc_id % 1600 + 1 AS BIGINT) AS width,
        | CAST((doc_id * 5) % 1200 + 1 AS BIGINT) AS height
        |FROM documents""".stripMargin,

    // the oracle states the generating parameters; the Spark side must
    // recover them through the real byte-level parser
    "m_png_dims" ->
      """SELECT doc_id, true AS is_png,
        | CAST(doc_id % 1024 + 1 AS BIGINT) AS width,
        | CAST((doc_id * 7) % 1024 + 1 AS BIGINT) AS height
        |FROM documents""".stripMargin,

    "m_byte_entropy" ->
      """WITH ch AS (SELECT doc_id, length(text) AS len,
        |    unnest(list_transform(range(1, length(text) + 1),
        |      i -> substr(text, CAST(i AS INT), 1))) AS ch
        |  FROM documents),
        |f AS (SELECT doc_id, len, ch, COUNT(*) AS c
        |  FROM ch GROUP BY doc_id, len, ch)
        |SELECT doc_id, CAST(-SUM(CAST(round(
        |    (CAST(c AS DOUBLE) / CAST(len AS DOUBLE)) *
        |    ln(CAST(c AS DOUBLE) / CAST(len AS DOUBLE)), 4)
        |  AS DECIMAL(18,4))) AS DOUBLE) AS entropy_nats
        |FROM f GROUP BY doc_id""".stripMargin
  )
}
