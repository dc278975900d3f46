package graft.mm

import graft.syntax._
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Multimodal column plumbing — image/audio/video as opaque `binary`
  * columns with typed metadata (builder brief).
  *
  * The codec is REAL: JDK `javax.imageio` (PNG + BMP writers/readers —
  * public, dependency-free). The synthetic corpus ships no media bytes,
  * so the blob table is *generated*: per document a deterministic image
  * whose dimensions, band count and pixel values are pure integer
  * functions of `doc_id` ([[ImageSynth]]), rendered into a raster and
  * encoded through the real PNG/BMP writers. The decode side sees ONLY
  * the encoded bytes — width/height/channels come from the decoder, the
  * format name from the matched `ImageReader`, and intensity stats from
  * the decoded raster — so the DuckDB oracle (the same integer
  * arithmetic, no codec anywhere) verifies the entire encode→decode
  * round trip value-exactly. A wrong stride, channel order, palette
  * expansion or dimension swap in either direction breaks the hash.
  *
  * 100 TB notes: blobs ride in their own column chunk (columnar pruning
  * keeps metadata-only queries from reading bytes); decode is map-only
  * (`mapPartitions`, one codec setup per partition — the Scala analog of
  * a `mapInPandas` batch UDF); `spark.sql.files.maxPartitionBytes`
  * bounds per-task batch memory. `ImageIO.setUseCache(false)` keeps the
  * codec in heap buffers — no executor temp-file churn.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic synthetic image parameters — pure integer functions
    * of `doc_id`, replayed verbatim by the DuckDB oracles.
    */
  object ImageSynth {
    def width(id: Long): Int     = (4 + id % 13).toInt        // 4..16
    def height(id: Long): Int    = (4 + (id / 13) % 11).toInt // 4..14
    def channels(id: Long): Int  = if (id % 2 == 0) 3 else 1
    def format(id: Long): String = if (id % 3 == 0) "bmp" else "png"
    def pixel(id: Long, x: Int, y: Int): Int =
      ((id * 31 + x * 7 + y * 13) % 256).toInt

    def render(w: Int, h: Int, c: Int)(px: (Int, Int) => Int): BufferedImage = {
      val t =
        if (c == 3) BufferedImage.TYPE_3BYTE_BGR else BufferedImage.TYPE_BYTE_GRAY
      val img = new BufferedImage(w, h, t)
      val r   = img.getRaster
      var y   = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = px(x, y)
          var b = 0
          while (b < c) { r.setSample(x, y, b, v); b += 1 }
          x += 1
        }
        y += 1
      }
      img
    }

    /** The real encoded media blob for one document. */
    def blobFor(id: Long): Array[Byte] =
      ImageCodec.encode(
        render(width(id), height(id), channels(id))(pixel(id, _, _)),
        format(id)
      )
  }

  /** Thin wrapper over `javax.imageio` — encode, decode (format name
    * from the matched reader, not from any column), raster stats, and a
    * deterministic nearest-neighbor 2:1 subsample.
    */
  object ImageCodec {
    ImageIO.setUseCache(false) // in-memory streams; no temp-file cache on executors

    def encode(img: BufferedImage, fmt: String): Array[Byte] = {
      val bo = new ByteArrayOutputStream()
      require(ImageIO.write(img, fmt, bo), s"no ImageIO writer for '$fmt'")
      bo.toByteArray
    }

    /** Decode bytes → (image, lowercase format name). The reader is
      * discovered from the byte signature — nothing about the blob's
      * provenance is consulted.
      */
    def decode(bytes: Array[Byte]): (BufferedImage, String) = {
      val iis     = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      val readers = ImageIO.getImageReaders(iis)
      require(readers.hasNext, "no ImageIO reader matches the blob signature")
      val reader = readers.next()
      reader.setInput(iis)
      val img = reader.read(0)
      val fmt = reader.getFormatName.toLowerCase
      reader.dispose()
      (img, fmt)
    }

    /** (width, height, bands, sum of all samples over all bands). */
    def stats(img: BufferedImage): (Int, Int, Int, Long) = {
      val r           = img.getRaster
      val (w, h, c)   = (img.getWidth, img.getHeight, r.getNumBands)
      var sum         = 0L
      var b           = 0
      while (b < c) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += r.getSample(x, y, b); x += 1 }
          y += 1
        }
        b += 1
      }
      (w, h, c, sum)
    }

    /** Nearest-neighbor 2:1 subsample — keeps the pixels at even
      * coordinates, so the output is an exact deterministic function of
      * the input raster (no Graphics2D interpolation, whose rounding is
      * implementation-defined). `(w+1)/2 × (h+1)/2`, band count kept.
      */
    def subsample2(img: BufferedImage): BufferedImage = {
      val r  = img.getRaster
      val c  = r.getNumBands
      val w2 = (img.getWidth + 1) / 2
      val h2 = (img.getHeight + 1) / 2
      val t =
        if (c == 3) BufferedImage.TYPE_3BYTE_BGR else BufferedImage.TYPE_BYTE_GRAY
      val out = new BufferedImage(w2, h2, t)
      val o   = out.getRaster
      var b   = 0
      while (b < c) {
        var y = 0
        while (y < h2) {
          var x = 0
          while (x < w2) { o.setSample(x, y, b, r.getSample(2 * x, 2 * y, b)); x += 1 }
          y += 1
        }
        b += 1
      }
      out
    }
  }

  /** The corpus as a blob table: text bytes standing in for opaque media
    * bytes (metadata/framing plumbing ops only — the codec family below
    * uses [[imageBlobs]]).
    */
  def blobs(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .select($"doc_id", $"text".cast("binary").as("blob"), $"source")

  private val blobSchema = StructType(
    Seq(StructField("doc_id", LongType), StructField("blob", BinaryType))
  )

  /** The generated media table: one REAL encoded PNG/BMP blob per
    * document (partition-parallel render+encode; map-only).
    */
  def imageBlobs(s: SparkSession, d: String): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(blobSchema)
    Tables
      .documents(s, d)
      .select($"doc_id")
      // r15 (the mm_scene_cut fix, applied to the whole codec family):
      // the render+PNG-encode loop ran on the single-row-group scan's
      // one task; spread the doc_id list so it runs cluster-wide
      // (identity when the scan has >= parallelism splits; per-doc work
      // is row-independent and every consumer orders its own output)
      .spreadAcrossCores()
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, ImageSynth.blobFor(id))
        }
      }(enc)
  }

  /** Metadata-only pass — never decodes, never needs the blob bytes
    * beyond length/digest (oracle-checked).
    */
  val mmMetadata: Q = (s, d) =>
    blobs(s, d)
      .select(
        $"doc_id",
        octet_length($"blob").as("byte_len"),
        md5($"blob").as("content_md5"),
        $"source"
      )
      .orderBy($"doc_id")

  val decodedSchema: StructType = StructType(
    Seq(
      StructField("doc_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("channels", IntegerType),
      StructField("format", StringType),
      StructField("pix_sum", LongType),
      StructField("mean_intensity", LongType)
    )
  )

  /** ONE decode→stats pipeline over any (id, blob) frame (r11 review:
    * Jpeg.mmDecodeJpeg carried a verbatim copy with img_id for doc_id —
    * a change to the stats/mean rule would have had to land twice). The
    * id column keeps the CALLER'S name so output schemas are unchanged.
    */
  private[mm] def decodeStats(blobs: org.apache.spark.sql.DataFrame, idCol: String): org.apache.spark.sql.DataFrame = {
    val schema = StructType(
      StructField(idCol, LongType) +: decodedSchema.fields.toSeq.drop(1))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    blobs
      .mapPartitions { rows =>
        // undecodable rows (null blob, truncated/garbage bytes) are
        // SKIPPED, not crashed on — the standard corrupt-media semantic
        // for a decode op over an untrusted blob column (chaos probe
        // r11); the fixture corpora decode 100%, so the oracle row set
        // is unchanged
        rows.flatMap { r =>
          val bytes = r.getAs[Array[Byte]](1)
          val id    = r.getLong(0)
          // Try scoped to the CODEC call only (r11 review): a
          // post-decode stats bug must fail loudly, not masquerade as an
          // undecodable row. Decodable zero-pixel images are skipped
          // EXPLICITLY — mean intensity is undefined on them.
          val decoded =
            if (bytes == null) None
            else scala.util.Try(ImageCodec.decode(bytes)).toOption
          decoded.flatMap { case (img, fmt) =>
            val (w, h, c, sum) = ImageCodec.stats(img)
            if (w.toLong * h * c == 0L) None
            else Some(Row(id, w, h, c, fmt, sum, sum / (w.toLong * h * c)))
          }
        }
      }(enc)
  }

  /** REAL batch decode via mapPartitions: `ImageIO` parses the actual
    * PNG/BMP bytes; every output column comes from the decoder (the
    * format from the signature-matched reader). The oracle re-derives
    * the same numbers from the `doc_id` arithmetic alone — codec-free —
    * so a decode that read anything wrong hash-fails.
    */
  val mmDecode: Q = (s, d) =>
    decodeStats(imageBlobs(s, d), "doc_id").orderBy($"doc_id")

  /** Frame sampling — the video analog: treat the blob as fixed-size
    * frame blocks, emit every `stride`-th block with its offset (the
    * extraction plumbing for "sample 1 fps"-style pipelines). posexplode
    * keeps it one codegen'd scan; at scale the sampled frames land
    * partitioned by doc for downstream batch decode.
    *
    * ASCII assumption (pinned by MultimodalSpec): the engine frames
    * BYTES (octet_length/substring on binary) while the oracle frames
    * VARCHAR characters — equal only while every corpus byte is ASCII.
    */
  val frameSize = 64
  val stride    = 4

  val mmFrameSample: Q = (s, d) => {
    blobs(s, d)
      .select(
        $"doc_id",
        posexplode(
          filter(
            transform(
              sequence(lit(0), floor((octet_length($"blob") - 1) / (frameSize * stride)).cast("int")),
              i => substring($"blob", (i * frameSize * stride + 1).cast("int"), lit(frameSize))
            ),
            f => octet_length(f) > 0
          )
        ).as(Seq("frame_idx", "frame"))
      )
      .select(
        $"doc_id",
        $"frame_idx",
        octet_length($"frame").as("frame_bytes"),
        md5($"frame").as("frame_md5")
      )
      .orderBy($"doc_id", $"frame_idx")
  }

  val resizedSchema: StructType = StructType(
    Seq(
      StructField("doc_id", LongType),
      StructField("orig_width", IntegerType),
      StructField("orig_height", IntegerType),
      StructField("resized_width", IntegerType),
      StructField("resized_height", IntegerType),
      StructField("channels", IntegerType),
      StructField("resized_pix_sum", LongType),
      StructField("resized_mean", LongType)
    )
  )

  /** REAL resize: decode the blob, nearest-neighbor 2:1 subsample of the
    * decoded raster, re-encode to PNG (resize pipelines emit blobs, not
    * rasters), then decode the RE-ENCODED bytes again and report stats
    * from that second decode — the whole
    * decode→resample→encode→decode chain must be lossless for the
    * arithmetic oracle to match.
    */
  val mmResize: Q = (s, d) => {
    val enc = org.apache.spark.sql.Encoders.row(resizedSchema)
    imageBlobs(s, d)
      .mapPartitions { rows =>
        rows.map { r =>
          val id         = r.getLong(0)
          val (img, _)   = ImageCodec.decode(r.getAs[Array[Byte]](1))
          val rebytes    = ImageCodec.encode(ImageCodec.subsample2(img), "png")
          val (back, _)  = ImageCodec.decode(rebytes)
          val (w2, h2, c, sum) = ImageCodec.stats(back)
          Row(id, img.getWidth, img.getHeight, w2, h2, c, sum, sum / (w2.toLong * h2 * c))
        }
      }(enc)
      .orderBy($"doc_id")
  }

  /** Stop-frame cap: frames shared by more than this many docs are
    * excluded from pair generation (the "black frame" problem — one
    * ubiquitous frame would otherwise quadratically dominate the join).
    */
  val frameCap = 100

  /** Per-doc synthetic video: `3 + doc_id % 5` frames, each an 8×8 gray
    * PNG whose pixels are a pure function of the frame KEY
    * `(doc_id % frameKeyMod) * 16 + frame_idx` — so two documents emit
    * byte-identical frames exactly when their ids collide mod
    * [[frameKeyMod]] (deliberate planted reuse; PNG encoding is
    * deterministic for identical rasters).
    */
  val frameKeyMod  = 211
  val frameDimPx   = 8
  def nFrames(id: Long): Int            = 3 + (id % 5).toInt
  def frameKey(id: Long, f: Int): Long  = (id % frameKeyMod) * 16 + f
  def frameBlob(k: Long): Array[Byte] =
    ImageCodec.encode(
      // the gradient alone is only injective in k mod 256 (31 is odd, so
      // k ↦ 31k is a bijection of Z/256 — keys 256 apart collide); the
      // first two pixels stamp k's low/high bytes so raster ⇔ key is a
      // bijection over the full key range (< 16·frameKeyMod < 2^16)
      ImageSynth.render(frameDimPx, frameDimPx, 1) { (x, y) =>
        if (y == 0 && x == 0) (k % 256).toInt
        else if (y == 0 && x == 1) ((k / 256) % 256).toInt
        else ((k * 31 + x * 7 + y * 13) % 256).toInt
      },
      "png"
    )

  private val frameSchema = StructType(
    Seq(StructField("doc_id", LongType), StructField("frame", BinaryType))
  )

  /** Cross-document duplicated-frame (reused footage) detection over
    * REAL frame bytes: md5 of the encoded PNG frames, per-doc DISTINCT,
    * a hot-bucket cap riding the join's own frame_md5 shuffle (window
    * count + self-join share one exchange), then a pair count. The
    * oracle replays the pipeline on the frame KEYS (same-key ⇒ same
    * bytes ⇒ same md5; distinct keys ⇒ distinct rasters ⇒ distinct
    * digests), so the engine's hash join over real bytes must produce
    * the key-graph's exact pair counts. At 100 TB every stage is
    * bounded: frames per doc by the synth cap, bucket width by
    * [[frameCap]], so the join does O(Σ bucket²) with buckets ≤ cap.
    */
  val mmFrameDedup: Q = (s, d) => {
    val enc = org.apache.spark.sql.Encoders.row(frameSchema)
    val w   = Window.partitionBy($"frame_md5")
    val f = Tables
      .documents(s, d)
      .select($"doc_id")
      // r15: same spread as imageBlobs — the per-doc frame render+encode
      // loop ran on the single-row-group scan's one task
      .spreadAcrossCores()
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          (0 until nFrames(id)).iterator.map(i => Row(id, frameBlob(frameKey(id, i))))
        }
      }(enc)
      .select($"doc_id", md5($"frame").as("frame_md5"))
      .distinct()
      .withColumn("grp_n", count(lit(1)).over(w))
      .filter($"grp_n" <= frameCap)
      .select($"doc_id", $"frame_md5")
    f.as("x")
      .join(
        f.as("y"),
        col("x.frame_md5") === col("y.frame_md5") && col("x.doc_id") < col("y.doc_id")
      )
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Scene-cut synth + threshold (interpolated into the oracle): per-doc
    * videos of `6 + id % 5` frames in scenes of `2 + id % 3`; frames in a
    * scene share a base raster plus a per-frame jitter of +1 gray level,
    * so consecutive within-scene frames sit at circular pixel distance
    * exactly 1 (sum 64 over the 8×8 raster) while scene boundaries jump
    * to a fresh pseudo-random base (mean circular distance ≈ 64/px,
    * sum ≈ 4k) — the planted separation the threshold cuts.
    */
  val sceneCutThreshold = 1000L
  def scNFrames(id: Long): Int  = 6 + (id % 5).toInt
  def scSceneLen(id: Long): Int = 2 + (id % 3).toInt
  def scPixel(id: Long, f: Int, x: Int, y: Int): Int = {
    val scene  = f / scSceneLen(id)
    val jitter = f % scSceneLen(id)
    (((id * 17 + scene.toLong * 97) * 31 + x * 7 + y * 13 + jitter) % 256).toInt
  }

  /** Scene-change detection over REAL decoded frames — the shot-boundary
    * op of a video curation pipeline: render → PNG-encode → DECODE each
    * frame through `javax.imageio` (the lossless gray-8 round trip the
    * other mm ops pin), then compare consecutive frames by total CIRCULAR
    * pixel distance (min(d, 256−d) — within-scene jitter is exactly 1 per
    * pixel while a wrapped abs-diff would be 255, so the metric is
    * immune to the wraparound tail). A cut fires where the distance sum
    * crosses [[sceneCutThreshold]]; scene_id is the running cut count,
    * folded sequentially inside the per-doc loop (frames per doc are
    * bounded, docs are the parallel unit — same shape as mm_frame_dedup).
    * The oracle carries NO codec: it re-derives every distance from the
    * doc_id integer arithmetic, so a wrong stride/palette/roundtrip in
    * the engine breaks the hash.
    */
  val mmSceneCut: Q = (s, d) => {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("diff_sum", LongType),
      StructField("is_cut", IntegerType),
      StructField("scene_id", IntegerType)
    ))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    Tables
      .documents(s, d)
      .select($"doc_id")
      // r15 (guide §2.6): the PNG encode/decode loop — ~8 frames per doc,
      // 1.5 s of CPU at sf0.1 — ran on the single-row-group scan's ONE
      // task; spread the doc_id list so the codec work runs cluster-wide
      // (identity when the scan has >= parallelism splits; per-doc work
      // is row-independent, the trailing orderBy fixes output order)
      .spreadAcrossCores()
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val frames = (0 until scNFrames(id)).map { f =>
            val (img, _) = ImageCodec.decode(
              ImageCodec.encode(
                ImageSynth.render(frameDimPx, frameDimPx, 1)((x, y) => scPixel(id, f, x, y)),
                "png"
              )
            )
            img
          }
          var scene = 0
          (1 until frames.length).iterator.map { f =>
            val a = frames(f - 1).getRaster
            val b = frames(f).getRaster
            var sum = 0L
            var y   = 0
            while (y < frameDimPx) {
              var x = 0
              while (x < frameDimPx) {
                val dd = math.abs(a.getSample(x, y, 0) - b.getSample(x, y, 0))
                sum += math.min(dd, 256 - dd)
                x += 1
              }
              y += 1
            }
            val cut = sum > sceneCutThreshold
            if (cut) scene += 1
            Row(id, f, sum, if (cut) 1 else 0, scene)
          }
        }
      }(enc)
      .orderBy($"doc_id", $"frame_idx")
  }

  /** aHash near-dup threshold: with 4 pigeonhole bands the guarantee
    * needs hamming < 4, so ≤ 2 keeps a margin; interpolated into the
    * oracle.
    */
  val ahashMaxHamming = 2

  /** Perceptual image near-dup via average-hash (aHash) — the cheap
    * member of the pHash family: decode the REAL PNG/BMP bytes,
    * NN-resample to an 8×8 gray grid, threshold each cell against the
    * integer mean, pack 64 bits. Near-dup pairs come from the SimHash
    * pigeonhole machinery — 4×16-bit bands, candidates share a band
    * (guaranteed complete for hamming < 4), exact [[graft.functions
    * .GraftFunctions.hamming64]] verify. Unlike `dedup_simhash_pairs`
    * (whose xxhash signatures need a boundary dump), the aHash is
    * re-derivable from the doc_id raster arithmetic, so the oracle
    * replays decode→resample→threshold→bands→join→verify END-TO-END
    * codec-free — the full perceptual pipeline is hash-gated. The
    * signed-64 pack is rebuilt in SQL from two 32-bit halves with an
    * explicit two's-complement fold (DuckDB refuses `1::BIGINT << 63`;
    * the winnow HUGEINT precedent).
    */
  val mmAhash: Q = (s, d) => {
    val hashSchema = StructType(
      Seq(StructField("doc_id", LongType), StructField("ahash", LongType))
    )
    val enc = org.apache.spark.sql.Encoders.row(hashSchema)
    val hashes = imageBlobs(s, d)
      .mapPartitions { rows =>
        rows.map { r =>
          val (img, _) = ImageCodec.decode(r.getAs[Array[Byte]](1))
          Row(r.getLong(0), ahash64(img))
        }
      }(enc)
    ahashPairs(s, hashes, "doc_id", "doc_a", "doc_b")
  }

  /** The aHash kernel: 8×8 NN resample of band 0, integer-mean
    * threshold, 64-bit pack. One definition for the PNG/BMP family
    * (above), the JPEG family ([[Jpeg]]) and the golden-fixture
    * generator — the hash arithmetic cannot drift between codecs.
    */
  def ahash64(img: java.awt.image.BufferedImage): Long = {
    val w    = img.getWidth
    val h    = img.getHeight
    val ras  = img.getRaster
    val vals = new Array[Int](64)
    var i    = 0
    var y8   = 0
    while (y8 < 8) {
      var x8 = 0
      while (x8 < 8) {
        vals(i) = ras.getSample(x8 * w / 8, y8 * h / 8, 0)
        i += 1; x8 += 1
      }
      y8 += 1
    }
    var sum = 0L
    vals.foreach(sum += _)
    val mean = sum / 64
    var bits = 0L
    i = 0
    while (i < 64) { if (vals(i) > mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** Shared near-dup pair pipeline over an (id, ahash) frame: 4×16-bit
    * pigeonhole bands (candidates share a band — complete for
    * hamming < 4), exact hamming64 verify, `<`-ordered distinct pairs.
    * Parameterized on the id column so the PNG/BMP (`doc_id`) and JPEG
    * (`img_id`) families run the ONE implementation.
    */
  private[mm] def ahashPairs(
      s: SparkSession,
      hashes: DataFrame,
      id: String,
      outA: String,
      outB: String): DataFrame = {
    val segs = hashes.select(
      col(id),
      $"ahash",
      posexplode(
        array((0 until 4).map(k => shiftright($"ahash", k * 16).bitwiseAND(lit(0xffffL))): _*)
      ).as(Seq("seg_id", "seg"))
    )
    val hamming = graft.functions.GraftFunctions.hamming64($"a.ahash", $"b.ahash")
    segs
      .as("a")
      .join(
        segs.as("b"),
        $"a.seg_id" === $"b.seg_id" && $"a.seg" === $"b.seg" && col(s"a.$id") < col(s"b.$id")
      )
      .select(col(s"a.$id").as(outA), col(s"b.$id").as(outB), hamming.as("hamming"))
      .distinct()
      .filter($"hamming" <= ahashMaxHamming)
      .orderBy(col(outA), col(outB))
  }

  val queries: Map[String, Q] = Map(
    "mm_metadata"     -> mmMetadata,
    "mm_decode"       -> mmDecode,
    "mm_frame_sample" -> mmFrameSample,
    "mm_frame_dedup"  -> mmFrameDedup,
    "mm_resize"       -> mmResize,
    "mm_scene_cut"    -> mmSceneCut,
    "mm_ahash"        -> mmAhash
  )

  /** mm_metadata / mm_frame_sample: the corpus is ASCII (spec-pinned),
    * so byte-level blob semantics are expressible over VARCHAR in
    * DuckDB. mm_decode / mm_resize / mm_frame_dedup: the oracles carry
    * NO codec — they re-derive what the real `javax.imageio` round trip
    * must produce from the `doc_id` integer arithmetic alone.
    */
  val oracles: Map[String, String] = Map(
    // full perceptual-pipeline replay from doc_id arithmetic: 8×8 NN
    // resample, integer-mean threshold, signed-64 pack via two 32-bit
    // halves + explicit two's complement, pigeonhole bands, bit_count
    // verify — a wrong codec/stride/mean anywhere breaks the hash
    "mm_ahash" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 13 AS INT) AS w,
        |    CAST(4 + (doc_id // 13) % 11 AS INT) AS h
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, CAST(i.range AS INT) AS i,
        |    (doc_id * 31 + (((i.range % 8) * w) // 8) * 7
        |       + (((i.range // 8) * h) // 8) * 13) % 256 AS v
        |  FROM p, range(0, 64) i),
        |m AS (SELECT doc_id, CAST(SUM(v) // 64 AS BIGINT) AS mean FROM v GROUP BY doc_id),
        |halves AS (
        |  SELECT v.doc_id,
        |    CAST(SUM(CASE WHEN i < 32 AND v > mean
        |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(SUM(CASE WHEN i >= 32 AND v > mean
        |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS hi
        |  FROM v JOIN m USING (doc_id) GROUP BY v.doc_id),
        |hb AS (
        |  SELECT doc_id,
        |    CAST(CAST(hi AS HUGEINT) * 4294967296 + lo
        |      - CASE WHEN hi >= 2147483648
        |             THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END
        |      AS BIGINT) AS ahash
        |  FROM halves),
        |segs AS (
        |  SELECT doc_id, ahash, bi.range AS seg_id,
        |    (ahash >> CAST(bi.range * 16 AS INT)) & 65535 AS seg
        |  FROM hb, range(0, 4) bi),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
        |  FROM segs a JOIN segs b
        |    ON a.seg_id = b.seg_id AND a.seg = b.seg AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM pairs
        |WHERE hamming <= $ahashMaxHamming ORDER BY doc_a, doc_b""".stripMargin,
    // codec-free replay: circular pixel distances between consecutive
    // frames re-derived from the doc_id arithmetic (scene base + jitter),
    // threshold + running scene counter identical; every tunable
    // interpolated from the same Scala vals the engine renders with
    "mm_scene_cut" ->
      s"""WITH p AS (
        |  SELECT doc_id,
        |    CAST(6 + doc_id % 5 AS INT) AS nf,
        |    CAST(2 + doc_id % 3 AS INT) AS slen
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, slen, CAST(f AS INT) AS f
        |  FROM (SELECT doc_id, slen, unnest(range(1, nf)) AS f FROM p) t),
        |dd AS (
        |  SELECT doc_id, f, CAST(SUM(least(ad, 256 - ad)) AS BIGINT) AS diff_sum
        |  FROM (
        |    SELECT fr.doc_id, fr.f,
        |      abs(((fr.doc_id * 17 + (fr.f // fr.slen) * 97) * 31
        |             + (i % $frameDimPx) * 7 + (i // $frameDimPx) * 13
        |             + (fr.f % fr.slen)) % 256
        |        - ((fr.doc_id * 17 + ((fr.f - 1) // fr.slen) * 97) * 31
        |             + (i % $frameDimPx) * 7 + (i // $frameDimPx) * 13
        |             + ((fr.f - 1) % fr.slen)) % 256) AS ad
        |    FROM fr, (SELECT unnest(range(0, ${frameDimPx * frameDimPx})) AS i) px) q
        |  GROUP BY doc_id, f)
        |SELECT doc_id, f AS frame_idx, diff_sum,
        |  CAST(diff_sum > $sceneCutThreshold AS INT) AS is_cut,
        |  CAST(SUM(CAST(diff_sum > $sceneCutThreshold AS INT)) OVER
        |    (PARTITION BY doc_id ORDER BY f ROWS UNBOUNDED PRECEDING) AS INT) AS scene_id
        |FROM dd ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_metadata" ->
      """SELECT doc_id, CAST(strlen(text) AS INT) AS byte_len,
        |  md5(text) AS content_md5, source
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_decode" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 13 AS INT) AS width,
        |    CAST(4 + (doc_id // 13) % 11 AS INT) AS height,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT) AS channels,
        |    CASE WHEN doc_id % 3 = 0 THEN 'bmp' ELSE 'png' END AS format
        |  FROM documents),
        |px AS (
        |  SELECT doc_id,
        |    CAST(channels * SUM((doc_id * 31 + (i % width) * 7 + (i // width) * 13) % 256) AS BIGINT) AS pix_sum
        |  FROM (SELECT doc_id, width, height, channels,
        |          unnest(range(0, width * height)) AS i FROM p) t
        |  GROUP BY doc_id, channels)
        |SELECT p.doc_id, p.width, p.height, p.channels, p.format, px.pix_sum,
        |  CAST(px.pix_sum // (p.width * p.height * p.channels) AS BIGINT) AS mean_intensity
        |FROM p JOIN px USING (doc_id) ORDER BY p.doc_id""".stripMargin,
    "mm_resize" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 13 AS INT) AS ow,
        |    CAST(4 + (doc_id // 13) % 11 AS INT) AS oh,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT) AS channels
        |  FROM documents),
        |q AS (
        |  SELECT *, CAST((ow + 1) // 2 AS INT) AS rw, CAST((oh + 1) // 2 AS INT) AS rh
        |  FROM p),
        |px AS (
        |  SELECT doc_id,
        |    CAST(channels * SUM((doc_id * 31 + (2 * (i % rw)) * 7 + (2 * (i // rw)) * 13) % 256) AS BIGINT) AS ps
        |  FROM (SELECT doc_id, rw, rh, channels,
        |          unnest(range(0, rw * rh)) AS i FROM q) t
        |  GROUP BY doc_id, channels)
        |SELECT q.doc_id, q.ow AS orig_width, q.oh AS orig_height,
        |  q.rw AS resized_width, q.rh AS resized_height, q.channels,
        |  px.ps AS resized_pix_sum,
        |  CAST(px.ps // (q.rw * q.rh * q.channels) AS BIGINT) AS resized_mean
        |FROM q JOIN px USING (doc_id) ORDER BY q.doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH idx AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(floor((strlen(text) - 1) / 256.0) AS INT) + 1)) AS i
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  CAST(strlen(substring(text, CAST(i * 256 + 1 AS INT), 64)) AS INT) AS frame_bytes,
        |  md5(substring(text, CAST(i * 256 + 1 AS INT), 64)) AS frame_md5
        |FROM idx
        |WHERE strlen(substring(text, CAST(i * 256 + 1 AS INT), 64)) > 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_frame_dedup" ->
      s"""WITH fr AS (
         |  SELECT DISTINCT doc_id, (doc_id % $frameKeyMod) * 16 + i AS fkey
         |  FROM (SELECT doc_id, unnest(range(0, 3 + CAST(doc_id % 5 AS INT))) AS i
         |        FROM documents) t),
         |capped AS (
         |  SELECT doc_id, fkey FROM fr
         |  QUALIFY COUNT(*) OVER (PARTITION BY fkey) <= $frameCap)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(COUNT(*) AS BIGINT) AS shared_frames
         |FROM capped x JOIN capped y
         |  ON x.fkey = y.fkey AND x.doc_id < y.doc_id
         |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
  )
}
