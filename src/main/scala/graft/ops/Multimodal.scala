package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, plus a decode/feature-extract stage.
  *
  * The Spark-side structure is real — binary columns, per-partition
  * batch decode via mapPartitions over a typed Dataset, deterministic
  * frame sampling. The decoder is pluggable at the seam:
  * [[decodeImage]] is a REAL pure-JVM image decode (javax.imageio —
  * PNG/BMP/GIF/JPEG, no native libs) and [[decodeStub]] the
  * deterministic fallback for payloads that aren't decodable media
  * (this container ships no audio/video codecs). Swapping decoders
  * changes no plan shape: the stage stays a narrow per-partition map,
  * which is the property that matters at 100 TB (decode parallelism ==
  * input splits, no shuffle, memory bounded by batch size not
  * partition size).
  */
object Multimodal {

  // per-JVM (driver AND each executor touching this object): without
  // this, ImageIO.read(InputStream) spools every payload through a
  // temp FILE in java.io.tmpdir — per-row disk I/O in the decode stage
  javax.imageio.ImageIO.setUseCache(false)

  case class Media(doc_id: Long, payload: Array[Byte], n_bytes: Int)
  case class MediaFeatures(doc_id: Long, n_bytes: Int, n_frames: Int,
      checksum: Long, features: Array[Float])

  /** Codec sniff + decode, total over arbitrary bytes: ImageIO plugin
    * readers throw RuntimeExceptions (not just IOException) on
    * malformed-but-sniffable payloads — a truncated BMP header must
    * mean "not decodable media", never a dead task. */
  private def readImage(m: Media): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(m.payload)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Storage-level identity digest of the ENCODED payload (shared by
    * the stub and real decoders so both report the same identity). */
  private def payloadChecksum(m: Media): Long =
    m.payload.foldLeft(0L)((acc, b) => acc * 31 + (b & 0xff))

  /** STUB decoder — deterministic fake standing in for image/audio
    * decode: "frames" are 64-byte windows; features are per-frame byte
    * sums. Real implementation would call the codec here, one batch at
    * a time, inside the same iterator shape. */
  def decodeStub(m: Media): MediaFeatures = {
    val frames = m.payload.grouped(64).toArray
    val feats = frames.map(f => f.map(_.toInt & 0xff).sum.toFloat)
    MediaFeatures(m.doc_id, m.n_bytes, frames.length, payloadChecksum(m), feats)
  }

  /** REAL image decode via javax.imageio (pure JVM, in-container):
    * returns width, height, and mean intensity per RGB channel as the
    * feature vector — the canonical image-featurization shape (decode →
    * per-channel statistics). `n_frames` is 1 for a still image;
    * checksum is over the *encoded* payload so storage-level identity
    * survives the decode. Returns None when ImageIO has no codec for
    * the bytes (caller falls back to [[decodeStub]]). */
  def decodeImage(m: Media): Option[MediaFeatures] =
    readImage(m).map { bi =>
      var r = 0L; var g = 0L; var b = 0L
      var y = 0
      while (y < bi.getHeight) {
        var x = 0
        while (x < bi.getWidth) {
          val p = bi.getRGB(x, y)
          r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = bi.getWidth.toLong * bi.getHeight
      MediaFeatures(m.doc_id, m.n_bytes, 1, payloadChecksum(m),
        Array(bi.getWidth.toFloat, bi.getHeight.toFloat,
          r.toFloat / n, g.toFloat / n, b.toFloat / n))
    }

  /** Image decode when the payload is decodable media, stub features
    * otherwise — total over any byte payload. */
  def decodeAuto(m: Media): MediaFeatures =
    decodeImage(m).getOrElse(decodeStub(m))

  /** mm4 — perceptual hash (aHash) of a decoded image: average-hash
    * over an 8×8 luminance downsample — each cell's bit is 1 iff its
    * mean luminance exceeds the global mean. The standard cheap
    * image-dedup signature: CODEC-INVARIANT (the same pixels encoded
    * as PNG and BMP hash identically, unlike a byte digest), stable
    * under small brightness-preserving noise, and joinable exactly —
    * downstream image dedup is a plain groupBy on the hash, the dd1
    * shape over a perceptual key. Returns None for non-media payloads.
    *
    * Area-mean downsample (every source pixel counted once per its
    * cell) rather than point sampling, so the hash is deterministic
    * under any traversal order and insensitive to dimension rounding. */
  def aHash(m: Media): Option[Long] = {
    readImage(m).filter(bi => bi.getWidth >= 8 && bi.getHeight >= 8).map { bi =>
      val (sums, counts) = cellLumaMeans(bi, 8, 8)
      // compare cell means against the global mean in exact cross-
      // multiplied form (no double division → no ties by ulp); BigInt
      // because sum×count products overflow Long past ~4k×4k images,
      // and 64 comparisons per image are free next to the decode
      var totalSum = 0L; var totalCnt = 0L
      var i = 0
      while (i < 64) { totalSum += sums(i); totalCnt += counts(i); i += 1 }
      var h = 0L
      i = 0
      while (i < 64) {
        if (BigInt(sums(i)) * totalCnt > BigInt(totalSum) * counts(i))
          h |= (1L << i)
        i += 1
      }
      h
    }
  }

  /** Shared area-mean luminance downsample for the perceptual hashes:
    * gridW×gridH cells of (integer ITU-R 601 luma sum, pixel count) —
    * every source pixel lands in exactly one cell, so both hash
    * families stay deterministic under any traversal order and any
    * dimension rounding, and a luma/clamping fix lands in both at
    * once. */
  private def cellLumaMeans(bi: java.awt.image.BufferedImage,
      gridW: Int, gridH: Int): (Array[Long], Array[Long]) = {
    val sums = Array.ofDim[Long](gridW * gridH)
    val counts = Array.ofDim[Long](gridW * gridH)
    var y = 0
    while (y < bi.getHeight) {
      val cy = math.min(gridH - 1, y * gridH / bi.getHeight)
      var x = 0
      while (x < bi.getWidth) {
        val cx = math.min(gridW - 1, x * gridW / bi.getWidth)
        val p = bi.getRGB(x, y)
        val luma = 299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
          114 * (p & 0xff)
        sums(cy * gridW + cx) += luma
        counts(cy * gridW + cx) += 1
        x += 1
      }
      y += 1
    }
    (sums, counts)
  }

  case class MediaHash(doc_id: Long, ahash: Long)

  /** Perceptual-hash stage: narrow per-partition map (decode + aHash),
    * the input to hash-equality image dedup. Rows without decodable
    * ≥8×8 media are dropped (no perceptual identity to assert). */
  def aHashAll(media: Dataset[Media]): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(m => aHash(m).map(MediaHash(m.doc_id, _))))
  }

  /** mm5 — difference hash (dHash): bit (y,x) is 1 iff the area-mean
    * luminance of cell (y,x) is LESS than its right neighbor in a 9×8
    * downsample — 64 row-gradient signs. Complements [[aHash]]: aHash
    * captures where a cell sits against the GLOBAL mean (absolute
    * structure), dHash captures LOCAL left-to-right gradients, so it is
    * invariant under any monotone per-pixel brightness shift and
    * distinguishes images whose cells straddle the mean identically but
    * ramp differently. Same exactness discipline as aHash: integer
    * luma, area-mean cells, cross-multiplied comparisons — no double
    * division anywhere, so the bit pattern is engine- and
    * traversal-independent. */
  def dHash(m: Media): Option[Long] = {
    readImage(m).filter(bi => bi.getWidth >= 9 && bi.getHeight >= 8).map { bi =>
      // 9 columns × 8 rows of (luma sum, pixel count)
      val (sums, counts) = cellLumaMeans(bi, 9, 8)
      var h = 0L
      var cy = 0
      while (cy < 8) {
        var cx = 0
        while (cx < 8) {
          val l = cy * 9 + cx; val r = l + 1
          // mean(l) < mean(r) in exact cross-multiplied form
          if (BigInt(sums(l)) * counts(r) < BigInt(sums(r)) * counts(l))
            h |= (1L << (cy * 8 + cx))
          cx += 1
        }
        cy += 1
      }
      h
    }
  }

  case class MediaDHash(doc_id: Long, dhash: Long)

  /** dHash stage: narrow per-partition map, same lifecycle as
    * [[aHashAll]]; rows without decodable ≥9×8 media drop out. */
  def dHashAll(media: Dataset[Media]): Dataset[MediaDHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(m => dHash(m).map(MediaDHash(m.doc_id, _))))
  }

  /** mm4 fixture: a deterministic set of tiny in-memory images whose
    * pixels are pure integer formulas of (img_id, x, y) — no RNG, no
    * timestamps, no codec-dependent values — so the perceptual hashes
    * computed from them are CONSTANTS any engine can hold as a golden
    * table (a DuckDB oracle cannot decode images; it can hold the
    * literals the decode must produce). Mixed sizes exercise the
    * area-mean downsample (non-multiples of 8, the 9×8 dHash minimum);
    * alternating BMP/PNG encodings exercise codec invariance (the hash
    * is a function of pixels, not bytes). Driver-built: 8 images of
    * ≤ a few KB — a fixture, not a data path; real corpora arrive as
    * binary columns through [[mediaTable]]. */
  private[graft] def fixtureImages(): Seq[(Long, Array[Byte])] = {
    import java.awt.image.BufferedImage
    def build(w: Int, h: Int)(rgb: (Int, Int) => Int): BufferedImage = {
      val bi = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { bi.setRGB(x, y, rgb(x, y)); x += 1 }
        y += 1
      }
      bi
    }
    def gray(v: Int): Int = { val c = v & 0xff; (c << 16) | (c << 8) | c }
    val imgs: Seq[BufferedImage] = Seq(
      build(16, 16)((_, _) => gray(128)),             // constant → both 0
      build(32, 16)((x, _) => gray(x * 255 / 31)),    // →ramp → dhash all-1
      build(16, 32)((_, y) => gray(y * 255 / 31)),    // ↓ramp → dhash 0
      build(24, 24)((x, y) => gray(((x / 3 + y / 3) % 2) * 255)), // checker
      build(20, 12)((x, _) => gray(if (x < 10) 0 else 255)),      // halves
      build(9, 8)((x, y) => gray((x * 37 + y * 91) % 256)),       // min size
      build(40, 28)((x, y) => ((x * 73 + y * 151) * 179 % 256 << 16) |
        ((x * 31 + y * 17) * 113 % 256 << 8) | ((x + y * 7) * 59 % 256)),
      build(33, 17)((x, y) => gray((x + y) * 255 / 48)))          // diagonal
    imgs.zipWithIndex.map { case (bi, i) =>
      (i.toLong, encodeImg(bi, if (i % 2 == 0) "bmp" else "png"))
    }
  }

  private def encodeImg(bi: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(bi, fmt, bos), s"no $fmt codec")
    bos.toByteArray
  }

  /** mm5 fixture: the mm4 images plus RE-ENCODED duplicates — the same
    * pixels written through the OTHER codec (ids 8/9/10 duplicate
    * 3/5/6). Their hashes equal the originals' by the codec-invariance
    * property the mm4 spec pins (the hash is a function of pixels, not
    * bytes), so the oracle's golden rows for the copies are the same
    * definition-anchored literals — nothing newly recorded. */
  private[graft] def fixtureImagesWithDups(): Seq[(Long, Array[Byte])] = {
    val base = fixtureImages()
    val dups = Seq(3, 5, 6).zipWithIndex.map { case (src, k) =>
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(base(src)._2))
      // the other codec than the original's i%2 choice
      ((8 + k).toLong, encodeImg(bi, if (src % 2 == 0) "png" else "bmp"))
    }
    base ++ dups
  }

  /** A fixture's (id, bytes) pairs as a two-partition [[Media]] frame. */
  private def mediaFrame(s: SparkSession,
      items: Seq[(Long, Array[Byte])]): Dataset[Media] =
    s.createDataset(items.map { case (id, b) => Media(id, b, b.length) })(
      org.apache.spark.sql.Encoders.product[Media]).repartition(2)

  /** mm4 — aHash + dHash over the deterministic fixture, the
    * oracle-checked face of the perceptual-hash stage ([[aHashAll]] /
    * [[dHashAll]] are the corpus-scale path: narrow mapPartitions
    * decode, no shuffle). The DuckDB oracle is the golden-literal
    * table of the same hashes; the constant/ramp rows are
    * hand-derivable (all-equal cells → ahash 0; strictly rising
    * left-to-right means → dhash all 64 bits; vertical ramp → dhash
    * 0), anchoring the goldens to the definitions rather than to a
    * recorded run. */
  def perceptualHashQuery(s: SparkSession, d: String): DataFrame = {
    val media = mediaFrame(s, fixtureImages())
    val a = aHashAll(media).toDF("img_id", "ahash")
    val dh = dHashAll(media).toDF("img_id", "dhash")
    a.join(dh, "img_id").orderBy("img_id")
  }

  /** mm5 banding/verify parameters: 4×16-bit aHash bands generate
    * candidates (pigeonhole: any pair within aHash Hamming 3 shares a
    * band); a candidate is a near-dup when the COMBINED
    * aHash + dHash Hamming distance is ≤ [[PHashRadius]]. The two-hash
    * verify is the point: the fixture carries both traps — a dHash
    * collision (the two all-rising-gradient images) and an aHash
    * collision (checker vs half-split) — and each single hash would
    * pair them; the combined distance rejects both. */
  val PHashBands = 4
  val PHashBandBits = 16
  val PHashRadius = 6

  /** mm5 — image near-duplicate pairs over perceptual hashes: dd9's
    * banded-Hamming machinery applied to the image modality (find the
    * same picture re-encoded through a different codec — the constant
    * situation in web-scraped training corpora). Candidates from an
    * equi join on (band, 16-bit band value) of the aHash; codegen
    * bit_count verify on the combined distance; filter before
    * distinct.
    *
    * Scale posture: identical to dd9 — candidates per band are
    * n²/2^16 per equal-value bucket, shuffles keyed on (band, value),
    * decode cost stays in the narrow mapPartitions stage. Arithmetic
    * vs logical shift is immaterial: every shifted value is masked to
    * its low 16 bits, so sign-extension bits never reach the key. */
  def imageNearDupOf(hashes: DataFrame): DataFrame = {
    val bands = hashes.select(col("img_id"), col("ahash"), col("dhash"),
      explode(array((0 until PHashBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("ahash"), b * PHashBandBits)
            .bitwiseAND(lit(0xFFFFL)).as("v"))): _*)).as("bv"))
      .select(col("img_id"), col("ahash"), col("dhash"),
        col("bv.band").as("band"), col("bv.v").as("v"))
    bands.select(col("band"), col("v"), col("img_id").as("img_a"),
        col("ahash").as("ha"), col("dhash").as("da"))
      .join(bands.select(col("band"), col("v"), col("img_id").as("img_b"),
        col("ahash").as("hb"), col("dhash").as("db")), Seq("band", "v"))
      .filter(col("img_a") < col("img_b"))
      .select(col("img_a"), col("img_b"),
        expr("bit_count(ha ^ hb)").cast("long").as("ham_a"),
        expr("bit_count(da ^ db)").cast("long").as("ham_d"))
      .filter(col("ham_a") + col("ham_d") <= PHashRadius)
      .distinct()
      .orderBy("img_a", "img_b")
  }

  def imageNearDupQuery(s: SparkSession, d: String): DataFrame = {
    val media = mediaFrame(s, fixtureImagesWithDups())
    val a = aHashAll(media).toDF("img_id", "ahash")
    val dh = dHashAll(media).toDF("img_id", "dhash")
    imageNearDupOf(a.join(dh, "img_id"))
  }

  /** Oracle for mm5: the same banding and combined-Hamming verify in
    * SQL over the golden hash table ([[perceptualHashOracle]]'s rows
    * plus the re-encoded duplicates, whose literals are the originals'
    * by codec invariance). DuckDB's BIGINT >> is arithmetic where
    * Spark's shiftright sign-extends identically — both are masked to
    * 16 bits, so the band keys agree bit-for-bit. */
  val imageNearDupOracle: String =
    s"""WITH h(img_id, ahash, dhash) AS (VALUES
       |  (0, 0, 0),
       |  (1, -1085102592571150096, -1),
       |  (2, -4294967296, 0),
       |  (3, 6172840429334713770, 5383291072094227125),
       |  (4, -1085102592571150096, 1736164148113840152),
       |  (5, -4099135997669700040, -585470186015035457),
       |  (6, 2978417142350280378, 3051885091855094669),
       |  (7, -218150868210360128, -1),
       |  (8, 6172840429334713770, 5383291072094227125),
       |  (9, -4099135997669700040, -585470186015035457),
       |  (10, 2978417142350280378, 3051885091855094669)),
       |b AS (
       |  SELECT img_id, ahash, dhash, band,
       |         (ahash >> (band * $PHashBandBits)) & 65535 AS v
       |  FROM h, unnest([0, 1, 2, 3]) AS t(band)),
       |cand AS (
       |  SELECT DISTINCT a.img_id AS img_a, b2.img_id AS img_b,
       |         CAST(bit_count(xor(a.ahash, b2.ahash)) AS BIGINT) AS ham_a,
       |         CAST(bit_count(xor(a.dhash, b2.dhash)) AS BIGINT) AS ham_d
       |  FROM b a JOIN b b2 ON a.band = b2.band AND a.v = b2.v
       |                    AND a.img_id < b2.img_id)
       |SELECT img_a, img_b, ham_a, ham_d
       |FROM cand WHERE ham_a + ham_d <= $PHashRadius
       |ORDER BY img_a, img_b""".stripMargin

  /** Decode stage: per-partition batch map over the typed Dataset. */
  def decodeAll(media: Dataset[Media],
      decoder: Media => MediaFeatures = decodeAuto): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decoder))
  }

  /** Documents rendered as a media table: payload = utf-8 bytes (the
    * stand-in for real image/audio blobs), typed metadata columns. */
  def mediaTable(s: SparkSession, d: String): Dataset[Media] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .withColumn("n_bytes", length(col("payload")).cast("int"))
      .as[Media]
  }

  /** Oracle-checkable metadata query: byte length, frame count at
    * 64-byte frames, content digest, first-frame digest — the SQL-visible
    * face of the decode plumbing (digests on the string side so both
    * engines hash identical bytes). */
  def binaryMetaQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      floor((length(encode(col("text"), "UTF-8")) + 63) / 64).cast("long").as("n_frames"),
      sha2(col("text"), 256).as("payload_sha"),
      sha2(substring(col("text"), 1, 64), 256).as("frame0_sha"))
      .orderBy("doc_id")

  /** Frame sampling: every `stride`-th 64-byte frame of each payload,
    * exploded to (doc_id, frame_idx, frame digest) rows — the
    * decode-then-sample shape of video/audio pipelines, here over the
    * stand-in payloads. One narrow explode; output rows ≈ n/stride.
    *
    * Stand-in caveat: frame COUNT is computed over utf-8 bytes while the
    * frame CONTENT is sliced in characters (substr) so the DuckDB oracle
    * can replay it — consistent only for ASCII payloads, which the
    * fixtures are. A real binary payload column slices bytes on both
    * sides and the discrepancy disappears. */
  def frameSampleQuery(s: SparkSession, d: String): DataFrame = {
    val nFrames = floor((length(encode(col("text"), "UTF-8")) + 63) / 64)
      .cast("int")
    // empty payload → zero frames: guard the sequence (sequence(0,-1,4)
    // throws in Spark, while the oracle's generate_series is empty);
    // exploding the empty array drops the row, matching the oracle
    val idxs = when(nFrames > 0,
      sequence(lit(0), nFrames - 1, lit(FrameStride)))
      .otherwise(array().cast("array<int>"))
    Tables.documents(s, d)
      .withColumn("frame_idx", explode(idxs))
      .select(
        col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        sha2(col("text").substr(col("frame_idx") * 64 + 1, lit(64)), 256)
          .as("frame_sha"))
      .orderBy("doc_id", "frame_idx")
  }

  val FrameStride = 4

  /** mm3 — "resize"/downsample stage: 4:1 payload decimation (keep
    * every 4th unit), the stand-in for image resize / audio
    * downsampling. A real resize replaces the decimation inside the
    * same narrow scan-speed stage (or the [[decodeStub]] mapPartitions
    * seam for codec-backed payloads); what this query pins is the
    * plumbing — metadata recomputation and content digest of the
    * derived payload, no shuffle. Decimation is a regex both engines
    * evaluate identically on the ASCII stand-ins (`(.).{0,3}` → keep
    * first of each 4-char window). */
  def resizeQuery(s: SparkSession, d: String): DataFrame = {
    val thumb = regexp_replace(col("text"), "(.).{0,3}", "$1")
    Tables.documents(s, d).select(
      col("doc_id"),
      length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      length(encode(thumb, "UTF-8")).cast("long").as("thumb_bytes"),
      sha2(thumb, 256).as("thumb_sha"))
      .orderBy("doc_id")
  }

  val resizeOracle: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |         regexp_replace(text, '(.).{0,3}', '\1', 'g') AS thumb
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(octet_length(encode(thumb)) AS BIGINT) AS thumb_bytes,
      |  sha256(thumb) AS thumb_sha
      |FROM t ORDER BY doc_id""".stripMargin

  val frameSampleOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |    CAST(floor((octet_length(encode(text)) + 63) / 64) AS INT) AS n_frames
       |  FROM documents)
       |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
       |       sha256(substr(text, i * 64 + 1, 64)) AS frame_sha
       |FROM f, unnest(generate_series(0, n_frames - 1, $FrameStride)) AS t(i)
       |ORDER BY doc_id, frame_idx""".stripMargin

  val binaryMetaOracle: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(floor((octet_length(encode(text)) + 63) / 64) AS BIGINT) AS n_frames,
      |  sha256(text) AS payload_sha,
      |  sha256(substr(text, 1, 64)) AS frame0_sha
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Golden-literal oracle for [[perceptualHashQuery]]: DuckDB cannot
    * decode images, so the oracle holds the hashes the decode MUST
    * produce from the formula-defined fixture pixels. The anchor rows
    * are hand-derivable from the hash definitions, not recorded:
    * img 0 constant → (0, 0); img 1 horizontal ramp → ahash right
    * half set per row (0xF0F0F0F0F0F0F0F0) and dhash all 64 bits
    * (-1); img 2 vertical ramp → ahash bottom 32 bits' rows
    * (0xFFFFFFFF00000000 = -4294967296) and dhash 0; img 7 diagonal →
    * dhash -1. The remaining rows pin the area-mean downsample over
    * non-multiple-of-8 and minimum (9×8) dimensions. */
  val perceptualHashOracle: String =
    """SELECT CAST(img_id AS BIGINT) AS img_id,
      |  CAST(ahash AS BIGINT) AS ahash, CAST(dhash AS BIGINT) AS dhash
      |FROM (VALUES
      |  (0, 0, 0),
      |  (1, -1085102592571150096, -1),
      |  (2, -4294967296, 0),
      |  (3, 6172840429334713770, 5383291072094227125),
      |  (4, -1085102592571150096, 1736164148113840152),
      |  (5, -4099135997669700040, -585470186015035457),
      |  (6, 2978417142350280378, 3051885091855094669),
      |  (7, -218150868210360128, -1)) t(img_id, ahash, dhash)
      |ORDER BY img_id""".stripMargin

  case class ChannelStats(img_id: Long, width: Int, height: Int,
      n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long,
      min_luma: Int, max_luma: Int, h0: Long, h1: Long, h2: Long, h3: Long)

  /** Per-image channel statistics — the normalization-constant pass of
    * an image training pipeline (channel sums for mean/std, luma
    * range, a 4-bin luma histogram for exposure screening). One
    * imperative accumulation per image inside the same narrow
    * mapPartitions decode stage as mm2–mm5: decode parallelism equals
    * input splits, no shuffle, exact integers throughout (ITU-R 601
    * luma at the ×1000 integer scale [[cellLumaMeans]] uses; histogram
    * bin = luma/1000/64, and 255000/1000/64 = 3 so no clamp needed). */
  def channelStatsAll(media: Dataset[Media]): Dataset[ChannelStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      readImage(m).map { bi =>
        val w = bi.getWidth; val h = bi.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var lmin = Int.MaxValue; var lmax = Int.MinValue
        val hist = Array.ofDim[Long](4)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = bi.getRGB(x, y)
            val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff
            val b = p & 0xff
            sr += r; sg += g; sb += b
            val luma = 299 * r + 587 * g + 114 * b
            if (luma < lmin) lmin = luma
            if (luma > lmax) lmax = luma
            hist(luma / 1000 / 64) += 1
            x += 1
          }
          y += 1
        }
        ChannelStats(m.doc_id, w, h, w.toLong * h, sr, sg, sb,
          lmin, lmax, hist(0), hist(1), hist(2), hist(3))
      }
    })
  }

  /** mm8 — channel stats over the mm4 fixtures. Unlike mm4's
    * golden-literal oracle, this one REPLAYS the fixture pixel
    * formulas on a SQL coordinate grid (the image analogue of mm6's
    * waveform replay), so the compare certifies encode → codec decode
    * → pixel extraction end-to-end against an independent evaluation
    * of the same integer formulas. */
  def channelStatsQuery(s: SparkSession, d: String): DataFrame = {
    val media = mediaFrame(s, fixtureImages())
    channelStatsAll(media).toDF().orderBy("img_id")
  }

  /** (img_id, width, height) of [[fixtureImages]] — the oracle's grid
    * dimensions, kept in one place so a fixture edit breaks loudly. */
  private val fixtureDims: Seq[(Int, Int, Int)] = Seq(
    (0, 16, 16), (1, 32, 16), (2, 16, 32), (3, 24, 24),
    (4, 20, 12), (5, 9, 8), (6, 40, 28), (7, 33, 17))

  // the gray-image value formula per img_id (img 6 is the only
  // distinct-channel image and is cased separately) — shared by the
  // mm8 and mm17 oracles
  private val grayV =
    """CASE img_id
      |      WHEN 0 THEN 128
      |      WHEN 1 THEN (x * 255) // 31
      |      WHEN 2 THEN (y * 255) // 31
      |      WHEN 3 THEN ((x // 3 + y // 3) % 2) * 255
      |      WHEN 4 THEN CASE WHEN x < 10 THEN 0 ELSE 255 END
      |      WHEN 5 THEN (x * 37 + y * 91) % 256
      |      WHEN 7 THEN ((x + y) * 255) // 48
      |    END""".stripMargin

  val channelStatsOracle: String = {
    val dims = fixtureDims.map { case (i, w, h) => s"($i, $w, $h)" }
      .mkString(", ")
    s"""WITH dims(img_id, w, h) AS (VALUES $dims),
       |px AS (
       |  SELECT d.img_id, d.w, d.h, xs.x, ys.y
       |  FROM dims d,
       |    LATERAL unnest(generate_series(0, d.w - 1)) AS xs(x),
       |    LATERAL unnest(generate_series(0, d.h - 1)) AS ys(y)),
       |c AS (
       |  SELECT img_id, w, h,
       |    CASE WHEN img_id = 6 THEN ((x * 73 + y * 151) * 179) % 256
       |         ELSE $grayV END AS r,
       |    CASE WHEN img_id = 6 THEN ((x * 31 + y * 17) * 113) % 256
       |         ELSE $grayV END AS g,
       |    CASE WHEN img_id = 6 THEN ((x + y * 7) * 59) % 256
       |         ELSE $grayV END AS b
       |  FROM px),
       |l AS (SELECT img_id, w, h, r, g, b,
       |             299 * r + 587 * g + 114 * b AS luma FROM c)
       |SELECT CAST(img_id AS BIGINT) AS img_id,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  count(*) AS n_px,
       |  CAST(sum(r) AS BIGINT) AS sum_r,
       |  CAST(sum(g) AS BIGINT) AS sum_g,
       |  CAST(sum(b) AS BIGINT) AS sum_b,
       |  CAST(min(luma) AS INTEGER) AS min_luma,
       |  CAST(max(luma) AS INTEGER) AS max_luma,
       |  CAST(sum(CASE WHEN luma // 1000 // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
       |  CAST(sum(CASE WHEN luma // 1000 // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
       |  CAST(sum(CASE WHEN luma // 1000 // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
       |  CAST(sum(CASE WHEN luma // 1000 // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3
       |FROM l GROUP BY img_id, w, h ORDER BY img_id""".stripMargin
  }

  /** Patch tile edge in pixels for [[patchStatsQuery]] — the ViT-style
    * fixed pixel grid (partial edge tiles keep their true pixel
    * counts). */
  val PatchSize = 8

  case class PatchStats(img_id: Long, patch_x: Int, patch_y: Int,
      n_px: Long, sum_luma: Long, mean_mluma: Long)

  /** Per-patch luma statistics inside the same narrow decode stage as
    * mm8 — one pass over the pixels accumulating into the patch grid,
    * no shuffle. */
  def patchStatsAll(media: Dataset[Media]): Dataset[PatchStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      readImage(m).toSeq.flatMap { bi =>
        val w = bi.getWidth; val h = bi.getHeight
        val pw = (w + PatchSize - 1) / PatchSize
        val ph = (h + PatchSize - 1) / PatchSize
        val npx = Array.ofDim[Long](pw * ph)
        val sl = Array.ofDim[Long](pw * ph)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = bi.getRGB(x, y)
            val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff
            val b = p & 0xff
            val i = (y / PatchSize) * pw + (x / PatchSize)
            npx(i) += 1
            sl(i) += 299L * r + 587L * g + 114L * b
            x += 1
          }
          y += 1
        }
        for (py <- 0 until ph; px <- 0 until pw) yield {
          val i = py * pw + px
          PatchStats(m.doc_id, px, py, npx(i), sl(i), sl(i) / npx(i))
        }
      }
    })
  }

  /** mm17 — ViT-style PATCH grid statistics over the mm4/mm8 image
    * fixtures: per [[PatchSize]]² tile, exact pixel count, milli-luma
    * sum, and tile mean (one all-positive integer division — luma is
    * already at the ×1000 integer scale). This is the patch-embedding
    * PREPROCESSING audit: tile means are what a vision tower
    * normalizes per patch, and a tile whose mean pins to 0/255000
    * flags dead borders and letterboxing before any GPU touches the
    * batch. Oracle replays the pixel formulas on a SQL grid grouped
    * by the same x//8, y//8 tiling — encode → decode → tiling
    * certified end to end, the mm8 discipline one level finer. */
  def patchStatsQuery(s: SparkSession, d: String): DataFrame = {
    val media = mediaFrame(s, fixtureImages())
    patchStatsAll(media).toDF()
      .orderBy("img_id", "patch_y", "patch_x")
  }

  val patchStatsOracle: String = {
    val dims = fixtureDims.map { case (i, w, h) => s"($i, $w, $h)" }
      .mkString(", ")
    s"""WITH dims(img_id, w, h) AS (VALUES $dims),
       |px AS (
       |  SELECT d.img_id, d.w, d.h, xs.x, ys.y
       |  FROM dims d,
       |    LATERAL unnest(generate_series(0, d.w - 1)) AS xs(x),
       |    LATERAL unnest(generate_series(0, d.h - 1)) AS ys(y)),
       |c AS (
       |  SELECT img_id, x, y,
       |    CASE WHEN img_id = 6 THEN ((x * 73 + y * 151) * 179) % 256
       |         ELSE $grayV END AS r,
       |    CASE WHEN img_id = 6 THEN ((x * 31 + y * 17) * 113) % 256
       |         ELSE $grayV END AS g,
       |    CASE WHEN img_id = 6 THEN ((x + y * 7) * 59) % 256
       |         ELSE $grayV END AS b
       |  FROM px),
       |l AS (SELECT img_id, x // $PatchSize AS patch_x,
       |             y // $PatchSize AS patch_y,
       |             299 * r + 587 * g + 114 * b AS luma FROM c)
       |SELECT CAST(img_id AS BIGINT) AS img_id,
       |  CAST(patch_x AS INTEGER) AS patch_x,
       |  CAST(patch_y AS INTEGER) AS patch_y,
       |  count(*) AS n_px,
       |  CAST(sum(luma) AS BIGINT) AS sum_luma,
       |  CAST(sum(luma) AS BIGINT) // count(*) AS mean_mluma
       |FROM l GROUP BY img_id, patch_x, patch_y
       |ORDER BY img_id, patch_y, patch_x""".stripMargin
  }

  /** Samples per analysis frame for [[audioFrameQuery]] — the classic
    * short-time window of audio feature extraction. */
  val AudioFrameSamples = 256

  /** Audio fixture tracks: (track id, sample count). Mixed lengths
    * exercise full frames, a trailing partial frame (1000 = 3×256 +
    * 232), and a single-partial-frame track (100 < 256). */
  val audioTrackLens: Seq[(Long, Int)] =
    Seq(1L -> 1024, 2L -> 1000, 3L -> 512, 4L -> 300, 5L -> 2048, 6L -> 100)

  /** The fixture waveform: an integer formula over (track, sample
    * index) covering the full signed-16-bit range, chosen to be
    * replayable verbatim in SQL — the audio analogue of mm4's
    * formula-defined pixels. i·(i+3) makes consecutive samples swing
    * sign-erratically, so zero-crossing counts are non-trivial. */
  private[graft] def audioSample(t: Long, i: Long): Int =
    (((i * (i + 3) * 31 + t * 7919 + i * 1009) % 65536) - 32768).toInt

  /** Encode the fixture as PCM signed 16-bit little-endian mono — the
    * raw payload layout of a WAV data chunk. The query decodes BYTES,
    * not the formula, so a pass certifies the encode→decode round-trip
    * against the oracle's formula replay. */
  private[graft] def fixtureAudio(): Seq[(Long, Array[Byte])] =
    audioTrackLens.map { case (t, n) =>
      val bb = java.nio.ByteBuffer.allocate(n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i => bb.putShort(audioSample(t, i.toLong).toShort))
      (t, bb.array())
    }

  case class AudioFrame(track_id: Long, frame_idx: Long, n_samples: Long,
      energy: Long, zero_crossings: Long, peak: Long)

  /** PCM decode + per-frame features for one payload: short-time
    * energy Σv², within-frame zero crossings (adjacent product < 0 —
    * boundary pairs belong to no frame), and peak |v|. All integer
    * arithmetic; energy is bounded by 2¹⁵·²·frame ≈ 2.7e11 ≪ 2⁶³. */
  def pcmFrameFeatures(m: Media): Iterator[AudioFrame] = {
    val bb = java.nio.ByteBuffer.wrap(m.payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = m.payload.length / 2
    val v = new Array[Int](n)
    var i = 0
    while (i < n) { v(i) = bb.getShort(i * 2).toInt; i += 1 }
    (0 until n by AudioFrameSamples).iterator.zipWithIndex.map {
      case (st, fi) =>
        val end = math.min(st + AudioFrameSamples, n)
        var e = 0L; var zc = 0L; var pk = 0L
        var j = st
        while (j < end) {
          val s = v(j)
          e += s.toLong * s
          if (j > st && v(j - 1).toLong * s < 0) zc += 1
          if (math.abs(s.toLong) > pk) pk = math.abs(s.toLong)
          j += 1
        }
        AudioFrame(m.doc_id, fi.toLong, (end - st).toLong, e, zc, pk)
    }
  }

  /** The corpus-scale audio feature stage: narrow per-partition decode
    * over the binary column, no shuffle — decode parallelism equals
    * input splits, exactly the [[decodeAll]] posture with a framed
    * flatMap instead of a per-payload map. */
  def audioFramesAll(media: Dataset[Media]): Dataset[AudioFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap(pcmFrameFeatures))
  }

  /** mm6 — audio frame features over the deterministic PCM fixture:
    * the oracle-checked face of [[audioFramesAll]]. Unlike mm4's
    * golden literals, the oracle REPLAYS the waveform formula in SQL
    * and recomputes every frame statistic independently, so the
    * comparison covers the byte encode, the little-endian decode, the
    * framing (partial tails included), and the three feature sums. */
  def audioFrameQuery(s: SparkSession, d: String): DataFrame = {
    val media = mediaFrame(s, fixtureAudio())
    audioFramesAll(media).toDF().orderBy("track_id", "frame_idx")
  }

  /** Onset threshold for [[onsetFrameQuery]] as a rational: a frame is
    * a segment boundary when its energy moved ≥ 1/10 relative to the
    * previous frame — integer cross-multiplied (10·|e − pe| ≥ pe), so
    * the cut is exact cross-engine. */
  val OnsetNum = 1
  val OnsetDen = 10

  /** mm7 — audio onset / segment-boundary detection: the
    * content-ADAPTIVE frame selection that complements mm2's fixed
    * stride — keep a frame when its short-time energy jumps relative
    * to the previous frame (track openers always qualify; a partial
    * tail frame's energy drop flags the segment end). This is the
    * audio face of video keyframe selection: the same lag-compare
    * over [[audioFramesAll]]'s features, one keyed window per track,
    * no shuffle beyond the per-track partition. */
  def onsetFrameQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val media = mediaFrame(s, fixtureAudio())
    val w = Window.partitionBy("track_id").orderBy("frame_idx")
    audioFramesAll(media).toDF()
      .withColumn("prev_energy", lag(col("energy"), 1).over(w))
      .filter(col("prev_energy").isNull ||
        abs(col("energy") - col("prev_energy")) * OnsetDen >=
          col("prev_energy") * OnsetNum)
      .select("track_id", "frame_idx", "energy", "prev_energy")
      .orderBy("track_id", "frame_idx")
  }

  /** DuckDB replay of mm7: the mm6 frame CTE + one lag window and the
    * same integer cross-multiplied cut. */
  val onsetFrameOracle: String = {
    val tracks = audioTrackLens
      .map { case (t, n) => s"($t, $n)" }.mkString(", ")
    s"""WITH tracks(track_id, n) AS (VALUES $tracks),
       |s AS (
       |  SELECT track_id, i,
       |         ((i*(i+3)*31 + track_id*7919 + i*1009) % 65536) - 32768 AS v
       |  FROM tracks, unnest(generate_series(0, n - 1)) AS u(i)),
       |f AS (
       |  SELECT track_id, i // $AudioFrameSamples AS frame_idx,
       |         CAST(sum(v * v) AS BIGINT) AS energy
       |  FROM s GROUP BY track_id, frame_idx),
       |l AS (
       |  SELECT CAST(track_id AS BIGINT) AS track_id,
       |         CAST(frame_idx AS BIGINT) AS frame_idx, energy,
       |         lag(energy) OVER (PARTITION BY track_id ORDER BY frame_idx)
       |           AS prev_energy
       |  FROM f)
       |SELECT track_id, frame_idx, energy, prev_energy
       |FROM l
       |WHERE prev_energy IS NULL
       |   OR abs(energy - prev_energy) * $OnsetDen >= prev_energy * $OnsetNum
       |ORDER BY track_id, frame_idx""".stripMargin
  }

  /** DuckDB replay of mm6 from the shared formula and track list. */
  val audioFrameOracle: String = {
    val tracks = audioTrackLens
      .map { case (t, n) => s"($t, $n)" }.mkString(", ")
    s"""WITH tracks(track_id, n) AS (VALUES $tracks),
       |s AS (
       |  SELECT track_id, i,
       |         ((i*(i+3)*31 + track_id*7919 + i*1009) % 65536) - 32768 AS v
       |  FROM tracks, unnest(generate_series(0, n - 1)) AS u(i)),
       |f AS (
       |  SELECT track_id, i // $AudioFrameSamples AS frame_idx, v,
       |         lag(v) OVER (PARTITION BY track_id, i // $AudioFrameSamples
       |                      ORDER BY i) AS pv
       |  FROM s)
       |SELECT CAST(track_id AS BIGINT) AS track_id,
       |       CAST(frame_idx AS BIGINT) AS frame_idx,
       |       CAST(count(*) AS BIGINT) AS n_samples,
       |       CAST(sum(v * v) AS BIGINT) AS energy,
       |       CAST(count(*) FILTER (WHERE pv * v < 0) AS BIGINT)
       |         AS zero_crossings,
       |       CAST(max(abs(v)) AS BIGINT) AS peak
       |FROM f GROUP BY track_id, frame_idx
       |ORDER BY track_id, frame_idx""".stripMargin
  }

  /** Clipping threshold for [[audioHealthQuery]]: |v| at or beyond this
    * counts as clipped (the standard near-full-scale heuristic for
    * signed 16-bit audio; true full scale is 32767/-32768). */
  val ClipThreshold = 32000L

  case class AudioHealth(track_id: Long, n_samples: Long, n_clipped: Long,
      dc_sum: Long, energy: Long, peak: Long)

  /** mm9 — per-track audio health screen: clipped-sample count
    * (|v| ≥ [[ClipThreshold]]), DC offset numerator (Σv — a nonzero
    * mean betrays a miswired recording chain), total energy Σv², and
    * peak amplitude. This is the drop-level triage a speech-corpus
    * pipeline runs before feature extraction: tracks that are clipped
    * or DC-shifted get routed to re-normalization rather than poisoning
    * the training set. The whole statistic accumulates inside the
    * narrow per-partition decode — one pass over the bytes, NO shuffle
    * at all (per-track grain is produced where the track lives); at
    * 100 TB this runs at scan speed with parallelism = input splits.
    * Sums are exact longs (|v| ≤ 2¹⁵ so Σv² ≤ 2³⁰·n ≪ 2⁶³; the rates
    * are left to the consumer so every emitted column is an integer). */
  def pcmHealth(m: Media): AudioHealth = {
    val bb = java.nio.ByteBuffer.wrap(m.payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = m.payload.length / 2
    var i = 0; var clip = 0L; var dc = 0L; var e = 0L; var pk = 0L
    while (i < n) {
      val s = bb.getShort(i * 2).toLong
      if (math.abs(s) >= ClipThreshold) clip += 1
      dc += s
      e += s * s
      if (math.abs(s) > pk) pk = math.abs(s)
      i += 1
    }
    AudioHealth(m.doc_id, n.toLong, clip, dc, e, pk)
  }

  /** Oracle-checked face of [[pcmHealth]] over the shared PCM fixture;
    * like mm6/mm8 the oracle REPLAYS the waveform formula in SQL, so a
    * pass certifies encode → little-endian decode → every accumulator. */
  def audioHealthQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val media = mediaFrame(s, fixtureAudio())
    media.mapPartitions(_.map(pcmHealth))(Encoders.product[AudioHealth])
      .toDF().orderBy("track_id")
  }

  val audioHealthOracle: String = {
    val tracks = audioTrackLens
      .map { case (t, n) => s"($t, $n)" }.mkString(", ")
    s"""WITH tracks(track_id, n) AS (VALUES $tracks),
       |s AS (
       |  SELECT track_id, i,
       |         ((i*(i+3)*31 + track_id*7919 + i*1009) % 65536) - 32768 AS v
       |  FROM tracks, unnest(generate_series(0, n - 1)) AS u(i))
       |SELECT CAST(track_id AS BIGINT) AS track_id,
       |       CAST(count(*) AS BIGINT) AS n_samples,
       |       CAST(count(*) FILTER (WHERE abs(v) >= $ClipThreshold) AS BIGINT)
       |         AS n_clipped,
       |       CAST(sum(v) AS BIGINT) AS dc_sum,
       |       CAST(sum(v * v) AS BIGINT) AS energy,
       |       CAST(max(abs(v)) AS BIGINT) AS peak
       |FROM s GROUP BY track_id ORDER BY track_id""".stripMargin
  }

  /** Low-energy gate for mm13 as a rational: a frame is "quiet" when
    * its PER-SAMPLE energy is under [[QuietNum]]/[[QuietDen]] of the
    * track's mean per-sample energy — integer cross-multiplied
    * (energy·track_samples·den < num·n_samples·total_energy), so the
    * gate is exact cross-engine, self-normalizing per track (an
    * absolute threshold gates nothing on loud tracks, everything on
    * soft ones), and fair to partial tail frames (frame-level mean
    * energy would flag every short tail as quiet). 1/1 = strictly
    * below the mean: on near-stationary content roughly half the
    * frames gate, which is exactly what makes the RUN structure the
    * signal. */
  val QuietNum = 1L
  val QuietDen = 1L

  /** mm13 — relative low-energy (silence-shaped) segment detection:
    * per track, maximal RUNS of consecutive quiet frames — the
    * segment count, quiet-frame total, longest run, and quiet
    * fraction. This is the speech-curation triage between mm7 (onset
    * boundaries) and mm9 (whole-track health): long quiet runs are
    * dead air to trim or VAD-split before transcription; MANY short
    * runs on a track whose health screen is clean indicate
    * pause-heavy but usable speech.
    *
    * Shape: the mm6 frame features (narrow per-partition decode) join
    * their track-level totals (one per-track aggregation, broadcast-
    * class), the quiet flag is a codegen integer comparison, and runs
    * merge with the island trick — frame_idx minus a per-track
    * quiet-rank is constant exactly within a consecutive run (no lag
    * chain needed), so one track-keyed window + two aggregations
    * finish the job. Everything an exact integer but the final
    * fraction (one long/long division). */
  def lowEnergySegmentsQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val media = mediaFrame(s, fixtureAudio())
    val frames = audioFramesAll(media).toDF()
    val tot = frames.groupBy("track_id")
      .agg(count(lit(1)).as("n_frames"), sum(col("energy")).as("tot_energy"),
        sum(col("n_samples")).as("tot_samples"))
    val flagged = frames.join(broadcast(tot), "track_id")
      .withColumn("quiet",
        col("energy") * col("tot_samples") * QuietDen <
          lit(QuietNum) * col("n_samples") * col("tot_energy"))
    val w = Window.partitionBy("track_id").orderBy("frame_idx")
    val runs = flagged.filter(col("quiet"))
      .withColumn("grp", col("frame_idx") - row_number().over(w))
      .groupBy("track_id", "grp").agg(count(lit(1)).as("run_len"))
    val perTrack = runs.groupBy("track_id")
      .agg(count(lit(1)).as("n_segments"), sum(col("run_len")).as("n_quiet"),
        max(col("run_len")).as("longest_run"))
    tot.join(perTrack, Seq("track_id"), "left")
      .select(col("track_id"), col("n_frames"),
        coalesce(col("n_quiet"), lit(0L)).as("n_quiet"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
      .withColumn("quiet_fraction", col("n_quiet") / col("n_frames"))
      .orderBy("track_id")
  }

  val lowEnergySegmentsOracle: String = {
    val tracks = audioTrackLens
      .map { case (t, n) => s"($t, $n)" }.mkString(", ")
    s"""WITH tracks(track_id, n) AS (VALUES $tracks),
       |s AS (
       |  SELECT track_id, i,
       |         ((i*(i+3)*31 + track_id*7919 + i*1009) % 65536) - 32768 AS v
       |  FROM tracks, unnest(generate_series(0, n - 1)) AS u(i)),
       |fr AS (
       |  SELECT track_id, i // $AudioFrameSamples AS frame_idx,
       |         count(*) AS n_samples,
       |         CAST(sum(v * v) AS BIGINT) AS energy
       |  FROM s GROUP BY track_id, i // $AudioFrameSamples),
       |tot AS (
       |  SELECT track_id, count(*) AS n_frames,
       |         CAST(sum(energy) AS BIGINT) AS tot_energy,
       |         CAST(sum(n_samples) AS BIGINT) AS tot_samples
       |  FROM fr GROUP BY track_id),
       |q AS (
       |  SELECT fr.track_id, fr.frame_idx
       |  FROM fr JOIN tot ON fr.track_id = tot.track_id
       |  WHERE fr.energy * tot.tot_samples * $QuietDen
       |        < $QuietNum * fr.n_samples * tot.tot_energy),
       |g AS (
       |  SELECT track_id, frame_idx,
       |         frame_idx - row_number() OVER (PARTITION BY track_id
       |           ORDER BY frame_idx) AS grp
       |  FROM q),
       |runs AS (
       |  SELECT track_id, grp, count(*) AS run_len
       |  FROM g GROUP BY track_id, grp),
       |pt AS (
       |  SELECT track_id, count(*) AS n_segments,
       |         CAST(sum(run_len) AS BIGINT) AS n_quiet,
       |         max(run_len) AS longest_run
       |  FROM runs GROUP BY track_id)
       |SELECT t.track_id, t.n_frames,
       |       CAST(coalesce(pt.n_quiet, 0) AS BIGINT) AS n_quiet,
       |       CAST(coalesce(pt.n_segments, 0) AS BIGINT) AS n_segments,
       |       CAST(coalesce(pt.longest_run, 0) AS BIGINT) AS longest_run,
       |       CAST(coalesce(pt.n_quiet, 0) AS BIGINT) / t.n_frames
       |         AS quiet_fraction
       |FROM tot t LEFT JOIN pt ON t.track_id = pt.track_id
       |ORDER BY t.track_id""".stripMargin
  }

  /** Video fixture clips: (video id, width, height, frame count).
    * Mixed dims exercise the flattened frame stride; every clip spans
    * at least one scene boundary (scene length [[SceneFrames]]). */
  val videoDims: Seq[(Long, Int, Int, Int)] =
    Seq((1L, 16, 12, 12), (2L, 8, 8, 9), (3L, 20, 10, 6))

  /** Frames per scene in the fixture, and the cut threshold as a
    * rational: a frame starts a new shot when its summed absolute
    * pixel diff vs the previous frame exceeds [[CutMeanDiff]] per
    * pixel (integer cross-multiplied — diff_sum > mean·w·h). Within a
    * scene the formula moves every pixel by exactly 1/frame (mean
    * diff 1, below threshold); across a scene boundary the base
    * pattern re-randomizes (mean diff ~66, far above). */
  val SceneFrames = 4
  val CutMeanDiff = 2L

  /** The fixture frame formula: scene-dependent base pattern (bounded
    * < 200 so the +frame jitter never wraps a byte) plus an
    * intra-scene jitter of (f mod [[SceneFrames]]) — replayable
    * verbatim in SQL. */
  private[graft] def videoPixel(f: Int, x: Int, y: Int): Int = {
    val s = f / SceneFrames
    (x * (3 + s) + y * (7 + 2 * s) + s * 37) % 200 + (f % SceneFrames)
  }

  case class Video(video_id: Long, payload: Array[Byte], width: Int,
      height: Int, n_frames: Int)

  /** Encode the fixture as flattened gray frames (1 byte/pixel,
    * row-major within a frame, frames concatenated — the raw layout
    * of a planar video buffer). */
  private[graft] def fixtureVideo(): Seq[Video] =
    videoDims.map { case (id, w, h, nf) =>
      val bytes = new Array[Byte](w * h * nf)
      for (f <- 0 until nf; y <- 0 until h; x <- 0 until w)
        bytes(f * w * h + y * w + x) = videoPixel(f, x, y).toByte
      Video(id, bytes, w, h, nf)
    }

  /** A video fixture as a two-partition [[Video]] frame. */
  private def videoFrame(s: SparkSession, clips: Seq[Video]): Dataset[Video] =
    s.createDataset(clips)(org.apache.spark.sql.Encoders.product[Video])
      .repartition(2)

  case class FrameDiff(video_id: Long, frame_idx: Long, diff_sum: Long,
      is_cut: Boolean)

  /** Per-frame difference energy + shot-boundary flag for one clip:
    * Σ|p_f − p_{f−1}| over the frame, cut when the mean per-pixel
    * move exceeds [[CutMeanDiff]] (exact integer cross-multiply).
    * Unsigned byte decode (& 0xff); one pass over the buffer. */
  def frameDiffs(v: Video): Iterator[FrameDiff] = {
    val stride = v.width * v.height
    (1 until v.n_frames).iterator.map { f =>
      var s = 0L
      var i = 0
      while (i < stride) {
        val cur = v.payload(f * stride + i) & 0xff
        val prev = v.payload((f - 1) * stride + i) & 0xff
        s += math.abs(cur - prev)
        i += 1
      }
      FrameDiff(v.video_id, f.toLong, s, s > CutMeanDiff * stride)
    }
  }

  /** mm10 — video shot-boundary detection: the content-adaptive frame
    * selection for VIDEO (mm7 is the audio face, mm2 the fixed-stride
    * fallback): per adjacent frame pair, summed absolute pixel
    * difference and the cut flag. Runs entirely inside the narrow
    * per-partition decode — no shuffle, parallelism = input splits; at
    * 100 TB the real decoder swaps in behind the same iterator
    * signature ([[decodeAll]] posture). The oracle replays the frame
    * formula in SQL and recomputes every diff independently, so a
    * pass certifies byte layout, unsigned decode, frame striding, and
    * the accumulator. */
  def sceneCutQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val vids = videoFrame(s, fixtureVideo())
    vids.mapPartitions(_.flatMap(frameDiffs))(Encoders.product[FrameDiff])
      .toDF().orderBy("video_id", "frame_idx")
  }

  val sceneCutOracle: String = {
    val dims = videoDims.map { case (id, w, h, nf) => s"($id, $w, $h, $nf)" }
      .mkString(", ")
    val k = SceneFrames
    def pix(fe: String) =
      s"((x*(3+($fe)//$k) + y*(7+2*(($fe)//$k)) + (($fe)//$k)*37) % 200 + (($fe) % $k))"
    s"""WITH dims(video_id, w, h, nf) AS (VALUES $dims),
       |px AS (
       |  SELECT video_id, w, h, fs.f, xs.x, ys.y
       |  FROM dims,
       |    LATERAL unnest(generate_series(1, nf - 1)) AS fs(f),
       |    LATERAL unnest(generate_series(0, w - 1)) AS xs(x),
       |    LATERAL unnest(generate_series(0, h - 1)) AS ys(y)),
       |d AS (SELECT video_id, w, h, f,
       |        abs(${pix("f")} - ${pix("f - 1")}) AS ad
       |      FROM px)
       |SELECT CAST(video_id AS BIGINT) AS video_id,
       |       CAST(f AS BIGINT) AS frame_idx,
       |       CAST(sum(ad) AS BIGINT) AS diff_sum,
       |       sum(ad) > $CutMeanDiff * w * h AS is_cut
       |FROM d GROUP BY video_id, w, h, f
       |ORDER BY video_id, frame_idx""".stripMargin
  }

  /** Fixture timebases for [[avSyncQuery]]: 25 fps video (40 ms/frame)
    * against 8 kHz / 256-sample audio frames (32 ms/frame), and the
    * sync tolerance (±48 ms ≈ the broadcast lip-sync acceptability
    * bound). Exact integer milliseconds on both timelines. */
  val VideoFrameMs = 40L
  val AudioFrameMs = 32L
  val SyncToleranceMs = 48L

  /** av1 — cross-modal A/V sync audit: every video shot boundary
    * (mm10's cut flag) matched to the NEAREST audio onset (mm7) of the
    * paired track, with the signed-free millisecond offset and an
    * in-sync flag. This is the alignment check a multimodal curation
    * pipeline runs before trusting video+audio pairs as training
    * examples — desynced files poison contrastive A/V objectives.
    *
    * Shape: both feature streams come out of their narrow decode
    * stages exactly as mm10/mm7 produce them (no new decode path);
    * the nearest-match is a keyed equi join on the clip↔track pairing
    * followed by ONE struct-min argmin per cut — never a global sort,
    * never a cross join of timelines. Cuts and onsets are sparse
    * (O(scenes) and O(transients) per asset), so the join block per
    * key is tiny at any corpus size. */
  def avSyncQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.expressions.Window
    val vids = videoFrame(s, fixtureVideo())
    val cuts = vids.mapPartitions(_.flatMap(frameDiffs))(
        Encoders.product[FrameDiff])
      .toDF().filter(col("is_cut"))
      .select(col("video_id"), col("frame_idx").as("cut_frame"),
        (col("frame_idx") * VideoFrameMs).as("cut_ms"))
    val media = mediaFrame(s, fixtureAudio())
    val w = Window.partitionBy("track_id").orderBy("frame_idx")
    val onsets = audioFramesAll(media).toDF()
      .withColumn("prev_energy", lag(col("energy"), 1).over(w))
      .filter(col("prev_energy").isNull ||
        abs(col("energy") - col("prev_energy")) * OnsetDen >=
          col("prev_energy") * OnsetNum)
      .select(col("track_id"), col("frame_idx").as("onset_frame"),
        (col("frame_idx") * AudioFrameMs).as("onset_ms"))
    cuts.join(onsets, col("video_id") === col("track_id"))
      .withColumn("delta_ms", abs(col("cut_ms") - col("onset_ms")))
      .groupBy("video_id", "cut_frame", "cut_ms")
      .agg(min(struct(col("delta_ms"), col("onset_ms"),
        col("onset_frame"))).as("b"))
      .select(col("video_id"), col("cut_frame"), col("cut_ms"),
        col("b.onset_frame").as("onset_frame"),
        col("b.onset_ms").as("onset_ms"),
        col("b.delta_ms").as("delta_ms"),
        when(col("b.delta_ms") <= SyncToleranceMs, 1L).otherwise(0L)
          .as("in_sync"))
      .orderBy("video_id", "cut_frame")
  }

  /** DuckDB replay of av1: the mm10 diff CTE (cuts via HAVING), the
    * mm7 onset CTE, the same pairing join, argmin via the identical
    * (delta, onset_ms) order. */
  val avSyncOracle: String = {
    val dims = videoDims.map { case (id, w, h, nf) => s"($id, $w, $h, $nf)" }
      .mkString(", ")
    val tracks = audioTrackLens
      .map { case (t, n) => s"($t, $n)" }.mkString(", ")
    val k = SceneFrames
    def pix(fe: String) =
      s"((x*(3+($fe)//$k) + y*(7+2*(($fe)//$k)) + (($fe)//$k)*37) % 200 + (($fe) % $k))"
    s"""WITH dims(video_id, w, h, nf) AS (VALUES $dims),
       |px AS (
       |  SELECT video_id, w, h, fs.f, xs.x, ys.y
       |  FROM dims,
       |    LATERAL unnest(generate_series(1, nf - 1)) AS fs(f),
       |    LATERAL unnest(generate_series(0, w - 1)) AS xs(x),
       |    LATERAL unnest(generate_series(0, h - 1)) AS ys(y)),
       |dd AS (SELECT video_id, w, h, f,
       |         abs(${pix("f")} - ${pix("f - 1")}) AS ad
       |       FROM px),
       |cuts AS (
       |  SELECT CAST(video_id AS BIGINT) AS video_id,
       |         CAST(f AS BIGINT) AS cut_frame,
       |         CAST(f * $VideoFrameMs AS BIGINT) AS cut_ms
       |  FROM dd GROUP BY video_id, w, h, f
       |  HAVING sum(ad) > $CutMeanDiff * w * h),
       |tracks(track_id, n) AS (VALUES $tracks),
       |s AS (
       |  SELECT track_id, i,
       |         ((i*(i+3)*31 + track_id*7919 + i*1009) % 65536) - 32768 AS v
       |  FROM tracks, unnest(generate_series(0, n - 1)) AS u(i)),
       |fa AS (
       |  SELECT track_id, i // $AudioFrameSamples AS frame_idx,
       |         CAST(sum(v * v) AS BIGINT) AS energy
       |  FROM s GROUP BY track_id, frame_idx),
       |l AS (
       |  SELECT CAST(track_id AS BIGINT) AS track_id,
       |         CAST(frame_idx AS BIGINT) AS frame_idx, energy,
       |         lag(energy) OVER (PARTITION BY track_id ORDER BY frame_idx)
       |           AS prev_energy
       |  FROM fa),
       |onsets AS (
       |  SELECT track_id, frame_idx AS onset_frame,
       |         CAST(frame_idx * $AudioFrameMs AS BIGINT) AS onset_ms
       |  FROM l
       |  WHERE prev_energy IS NULL
       |     OR abs(energy - prev_energy) * $OnsetDen >= prev_energy * $OnsetNum),
       |j AS (
       |  SELECT c.video_id, c.cut_frame, c.cut_ms, o.onset_frame, o.onset_ms,
       |         abs(c.cut_ms - o.onset_ms) AS delta_ms
       |  FROM cuts c JOIN onsets o ON c.video_id = o.track_id),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY video_id, cut_frame
       |    ORDER BY delta_ms, onset_ms) AS rn
       |  FROM j)
       |SELECT video_id, cut_frame, cut_ms, onset_frame, onset_ms, delta_ms,
       |       CAST(CASE WHEN delta_ms <= $SyncToleranceMs THEN 1 ELSE 0 END
       |         AS BIGINT) AS in_sync
       |FROM r WHERE rn = 1 ORDER BY video_id, cut_frame""".stripMargin
  }

  /** mm12 fixture: the mm10 clips plus a 4th that REPLAYS clip 1's
    * scenes 2–3 (same dims, frame offset 8) — the re-upload/clip-reuse
    * case video dedup exists for. (video id, w, h, frames, offset);
    * offset shifts the scene formula, so equal (w, h, f+off) ⇒
    * byte-identical frames. */
  val videoDims2: Seq[(Long, Int, Int, Int, Int)] =
    videoDims.map { case (id, w, h, nf) => (id, w, h, nf, 0) } :+
      (4L, 16, 12, 8, 8)

  /** Minimum shared frames before two clips count as near-dups. */
  val VideoNearDupMin = 3

  private[graft] def fixtureVideo2(): Seq[Video] =
    videoDims2.map { case (id, w, h, nf, off) =>
      val bytes = new Array[Byte](w * h * nf)
      for (f <- 0 until nf; y <- 0 until h; x <- 0 until w)
        bytes(f * w * h + y * w + x) = videoPixel(f + off, x, y).toByte
      Video(id, bytes, w, h, nf)
    }

  /** Exact per-frame fingerprint: Σ p(x,y)·(1 + x + y·w) over the
    * frame — position-weighted so permuted frames differ, bounded well
    * under 2^63, and replayable in SQL from the scene formula (the
    * mm8/mm10 certification style: a pass certifies byte layout,
    * unsigned decode, striding, and the accumulator). A production
    * swap-in uses a perceptual hash here; the JOIN SHAPE downstream is
    * identical. */
  def frameFingerprints(v: Video): Iterator[(Long, Long, Long)] = {
    val stride = v.width * v.height
    (0 until v.n_frames).iterator.map { f =>
      var s = 0L
      var y = 0
      while (y < v.height) {
        var x = 0
        while (x < v.width) {
          s += (v.payload(f * stride + y * v.width + x) & 0xff).toLong *
            (1L + x + y.toLong * v.width)
          x += 1
        }
        y += 1
      }
      (v.video_id, f.toLong, s)
    }
  }

  /** mm12 — video near-dup detection: clips sharing ≥
    * [[VideoNearDupMin]] distinct frame fingerprints are flagged — the
    * re-upload/clip-reuse dedup. Fingerprints are produced in the
    * narrow decode stage (no shuffle); the candidate join is the
    * inverted-index shape (dd4 applied to video): keyed self-join on
    * the fingerprint value, never clip×clip. */
  def videoNearDupQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val vids = videoFrame(s, fixtureVideo2())
    val fps = vids.mapPartitions(_.flatMap(frameFingerprints))(
        Encoders.product[(Long, Long, Long)])
      .toDF("video_id", "frame_idx", "fp")
      .select("video_id", "fp").distinct()
    val a = fps.select(col("video_id").as("video_a"), col("fp"))
    val b = fps.select(col("video_id").as("video_b"), col("fp"))
    a.join(b, "fp").filter(col("video_a") < col("video_b"))
      .groupBy("video_a", "video_b")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("is_neardup", col("n_shared") >= VideoNearDupMin)
      .orderBy("video_a", "video_b")
  }

  /** DuckDB replay: same offset scene formula on the coordinate grid,
    * same fingerprint weights, same inverted-index pair count. */
  val videoNearDupOracle: String = {
    val dims = videoDims2.map { case (id, w, h, nf, off) =>
      s"($id, $w, $h, $nf, $off)" }.mkString(", ")
    val k = SceneFrames
    val pix =
      s"((x*(3+(f+off)//$k) + y*(7+2*((f+off)//$k)) + ((f+off)//$k)*37) % 200 + ((f+off) % $k))"
    s"""WITH dims(video_id, w, h, nf, off) AS (VALUES $dims),
       |px AS (
       |  SELECT video_id, w, h, off, fs.f, xs.x, ys.y
       |  FROM dims,
       |    LATERAL unnest(generate_series(0, nf - 1)) AS fs(f),
       |    LATERAL unnest(generate_series(0, w - 1)) AS xs(x),
       |    LATERAL unnest(generate_series(0, h - 1)) AS ys(y)),
       |fp AS (
       |  SELECT DISTINCT video_id,
       |    sum($pix * (1 + x + y * w)) AS fp
       |  FROM px GROUP BY video_id, f),
       |p AS (
       |  SELECT a.video_id AS video_a, b.video_id AS video_b,
       |         count(*) AS n_shared
       |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.video_id < b.video_id
       |  GROUP BY 1, 2)
       |SELECT CAST(video_a AS BIGINT) AS video_a,
       |  CAST(video_b AS BIGINT) AS video_b,
       |  CAST(n_shared AS BIGINT) AS n_shared,
       |  n_shared >= $VideoNearDupMin AS is_neardup
       |FROM p ORDER BY video_a, video_b""".stripMargin
  }

  /** mm11 — keyframe selection per shot: mm10's cut flags segment each
    * clip into shots (shot id = running cut count over the diff
    * stream), then each shot elects its highest-motion frame as the
    * keyframe — the content-adaptive sampling that replaces mm2's
    * fixed stride when training data should over-represent action.
    * The argmax rides OUT of the same aggregation as the shot stats
    * via the struct-max idiom (q2a/dd12/tx20): max(struct(diff,
    * −frame)) — no join-back, no second window. One keyed window
    * (cumulative cut count) + one aggregation over the per-frame diff
    * stream, which is itself produced shuffle-free in the narrow
    * decode stage. */
  def keyframeQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.expressions.Window
    val vids = videoFrame(s, fixtureVideo())
    val diffs = vids
      .mapPartitions(_.flatMap(frameDiffs))(Encoders.product[FrameDiff])
      .toDF()
    val shotW = Window.partitionBy("video_id").orderBy("frame_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    diffs
      .withColumn("shot_id",
        sum(when(col("is_cut"), 1L).otherwise(0L)).over(shotW))
      .groupBy("video_id", "shot_id")
      .agg(min("frame_idx").as("first_frame"),
        max("frame_idx").as("last_frame"),
        count(lit(1)).as("n_frames"),
        max(struct(col("diff_sum").as("d"), (-col("frame_idx")).as("nf")))
          .as("k"))
      .select(col("video_id"), col("shot_id"), col("first_frame"),
        col("last_frame"), col("n_frames"),
        (-col("k.nf")).as("key_frame"), col("k.d").as("key_diff"))
      .orderBy("video_id", "shot_id")
  }

  /** DuckDB replay: mm10's per-frame diff replay, a running cut count,
    * and the same struct-max argmax. */
  val keyframeOracle: String = {
    val dims = videoDims.map { case (id, w, h, nf) => s"($id, $w, $h, $nf)" }
      .mkString(", ")
    val k = SceneFrames
    def pix(fe: String) =
      s"((x*(3+($fe)//$k) + y*(7+2*(($fe)//$k)) + (($fe)//$k)*37) % 200 + (($fe) % $k))"
    s"""WITH dims(video_id, w, h, nf) AS (VALUES $dims),
       |px AS (
       |  SELECT video_id, w, h, fs.f, xs.x, ys.y
       |  FROM dims,
       |    LATERAL unnest(generate_series(1, nf - 1)) AS fs(f),
       |    LATERAL unnest(generate_series(0, w - 1)) AS xs(x),
       |    LATERAL unnest(generate_series(0, h - 1)) AS ys(y)),
       |fd AS (SELECT video_id, f, sum(abs(${pix("f")} - ${pix("f - 1")})) AS ds,
       |         sum(abs(${pix("f")} - ${pix("f - 1")})) > $CutMeanDiff * w * h
       |           AS is_cut
       |       FROM px GROUP BY video_id, w, h, f),
       |sh AS (SELECT video_id, f, ds,
       |         sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY video_id ORDER BY f
       |                 ROWS UNBOUNDED PRECEDING) AS shot_id
       |       FROM fd)
       |SELECT CAST(video_id AS BIGINT) AS video_id,
       |  CAST(shot_id AS BIGINT) AS shot_id,
       |  CAST(min(f) AS BIGINT) AS first_frame,
       |  CAST(max(f) AS BIGINT) AS last_frame,
       |  count(*) AS n_frames,
       |  CAST(-(max(struct_pack(d := ds, nf := -f)).nf) AS BIGINT) AS key_frame,
       |  CAST(max(struct_pack(d := ds, nf := -f)).d AS BIGINT) AS key_diff
       |FROM sh GROUP BY video_id, shot_id
       |ORDER BY video_id, shot_id""".stripMargin
  }

  /** mm14 aspect buckets: name, ratio upper bound in permille
    * (exclusive; last bucket unbounded), and the bucket's target
    * canvas — the SDXL-style equal-area (~1024²) multi-aspect family
    * a batched image-training pipeline resizes into. Boundaries sit at
    * the midpoints between adjacent target ratios, as exact integer
    * permille so bucket assignment never touches a double. */
  private val AspectBuckets: Seq[(String, Long, Long, Long)] = Seq(
    ("a_portrait_9x16", 650L, 768L, 1344L),
    ("b_portrait_3x4", 866L, 896L, 1152L),
    ("c_square", 1155L, 1024L, 1024L),
    ("d_landscape_4x3", 1540L, 1152L, 896L),
    ("e_landscape_16x9", Long.MaxValue, 1344L, 768L))

  /** mm14 — aspect-ratio bucketing audit: every image goes to the
    * fixed-canvas bucket nearest its aspect ratio, and the audit
    * reports per bucket the population, the batch count and tail
    * slack at batch size 32 (the padding a bucketed batch sampler
    * actually wastes), and the center-crop loss of scale-to-fill
    * resizing into the bucket canvas (mean/max, in exact ppm). This is
    * the sizing decision multi-aspect image training (SDXL-style
    * bucketing) makes ahead of every epoch; the audit is how you pick
    * the canvas family before committing a 100 TB decode pass.
    *
    * Dimensions are synthesized from doc_id via the engine's md5-60
    * twins (256..1024 px, step 64 — the stand-in for a real metadata
    * scan; a real corpus swaps in its width/height columns and
    * nothing else changes). Determinism: ratio permille, bucket
    * choice, and per-image crop-waste ppm are all exact integer
    * arithmetic — kept fraction = min(tw·h, th·w)/max(·,·) evaluated
    * as one 1e6-scaled integer division — so the per-bucket sums are
    * exact longs and each mean is ONE division. Shape: a narrow
    * per-row projection + one hash aggregation onto a 5-key domain —
    * map-side partials make the shuffle O(executors) at any SF. */
  def aspectBucketQuery(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Functions.md5Hash60
    val w = (lit(256L) + lit(64L) * pmod(md5Hash60(
      col("doc_id").cast("string"), 31), lit(13L))).as("w")
    val h = (lit(256L) + lit(64L) * pmod(md5Hash60(
      col("doc_id").cast("string"), 32), lit(13L))).as("h")
    val r = ((col("w") * 1000L) / col("h")).cast("long")
    val bucket = AspectBuckets.init.foldLeft(
        when(lit(false), "")) { case (acc, (name, ub, _, _)) =>
      acc.when(r < ub, name) }.otherwise(AspectBuckets.last._1)
    val tw = AspectBuckets.init.foldLeft(
        when(lit(false), lit(0L))) { case (acc, (name, _, bw, _)) =>
      acc.when(col("bucket") === name, bw) }
      .otherwise(AspectBuckets.last._3)
    val th = AspectBuckets.init.foldLeft(
        when(lit(false), lit(0L))) { case (acc, (name, _, _, bh)) =>
      acc.when(col("bucket") === name, bh) }
      .otherwise(AspectBuckets.last._4)
    val fill = greatest(col("tw") * col("h"), col("th") * col("w"))
    val keep = least(col("tw") * col("h"), col("th") * col("w"))
    Tables.documents(s, d)
      .select(col("doc_id"), w, h)
      .select(col("doc_id"), col("w"), col("h"), bucket.as("bucket"))
      .select(col("*"), tw.as("tw"), th.as("th"))
      .select(col("bucket"), col("tw"), col("th"),
        (lit(1000000L) - ((lit(1000000L) * keep) / fill).cast("long"))
          .as("waste_ppm"))
      .groupBy("bucket", "tw", "th")
      .agg(count(lit(1)).as("n_images"),
        sum(col("waste_ppm")).as("sum_waste"),
        max(col("waste_ppm")).as("max_waste_ppm"))
      .select(col("bucket"), col("tw").as("target_w"),
        col("th").as("target_h"), col("n_images"),
        ((col("n_images") + 31L) / 32L).cast("long").as("n_batches"),
        (((col("n_images") + 31L) / 32L).cast("long") * 32L -
          col("n_images")).as("tail_slack"),
        (col("sum_waste") / col("n_images")).as("mean_waste_ppm"),
        col("max_waste_ppm"))
      .orderBy("bucket")
  }

  val aspectBucketOracle: String = {
    val bucketCase = AspectBuckets.init.map { case (name, ub, _, _) =>
      s"WHEN r < $ub THEN '$name'" }.mkString(" ")
    val twCase = AspectBuckets.init.map { case (name, _, bw, _) =>
      s"WHEN bucket = '$name' THEN $bw" }.mkString(" ")
    val thCase = AspectBuckets.init.map { case (name, _, _, bh) =>
      s"WHEN bucket = '$name' THEN $bh" }.mkString(" ")
    s"""WITH dims AS (
       |  SELECT doc_id,
       |    256 + 64 * (('0x' || substr(md5('31' || ':' ||
       |      CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 13) AS w,
       |    256 + 64 * (('0x' || substr(md5('32' || ':' ||
       |      CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 13) AS h
       |  FROM documents),
       |bk AS (
       |  SELECT *, CASE $bucketCase
       |    ELSE '${AspectBuckets.last._1}' END AS bucket
       |  FROM (SELECT doc_id, w, h, (w * 1000) // h AS r FROM dims)),
       |tg AS (
       |  SELECT *, CASE $twCase ELSE ${AspectBuckets.last._3} END AS tw,
       |            CASE $thCase ELSE ${AspectBuckets.last._4} END AS th
       |  FROM bk),
       |px AS (
       |  SELECT bucket, tw, th,
       |    1000000 - (1000000 * least(tw * h, th * w))
       |      // greatest(tw * h, th * w) AS waste_ppm
       |  FROM tg),
       |agg AS (
       |  SELECT bucket, tw, th, count(*) AS n_images,
       |    CAST(sum(waste_ppm) AS BIGINT) AS sum_waste,
       |    CAST(max(waste_ppm) AS BIGINT) AS max_waste_ppm
       |  FROM px GROUP BY bucket, tw, th)
       |SELECT bucket, CAST(tw AS BIGINT) AS target_w,
       |  CAST(th AS BIGINT) AS target_h, n_images,
       |  (n_images + 31) // 32 AS n_batches,
       |  ((n_images + 31) // 32) * 32 - n_images AS tail_slack,
       |  sum_waste / n_images AS mean_waste_ppm, max_waste_ppm
       |FROM agg ORDER BY bucket""".stripMargin
  }

  /** mm15 — per-track audio DYNAMICS profile over [[audioFramesAll]]'s
    * frame features: peak level, crest factor (peak over RMS — the
    * compression/limiting fingerprint: heavily mastered or synthetic
    * audio sits low, natural transients high), and the loud/quiet
    * frame-energy spread in whole bits (full frames only, so the
    * partial tail can't fake a dynamic-range tail). Complements mm9's
    * health screen (clipping/DC) with the loudness-SHAPE axis a
    * curation pass uses to drop over-compressed or near-silent
    * program material.
    *
    * Determinism: crest² clears to the exact rational peak²·n/energy
    * — emitted as exact long numerator + denominator with ONE closing
    * division (crest itself would need a √; the square carries the
    * same ordering); the dynamic-range ratio quantizes to whole bits
    * via length(bin(max div max(1,min))) — the tx23/dq8 rule. Shape:
    * the frame features accumulate inside the narrow decode stage
    * (zero shuffle), then ONE track-keyed aggregation. */
  def audioDynamicsQuery(s: SparkSession, d: String): DataFrame = {
    val media = mediaFrame(s, fixtureAudio())
    val frames = audioFramesAll(media).toDF()
    frames
      .groupBy("track_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("n_samples") === AudioFrameSamples, 1L).otherwise(0L))
          .as("n_full_frames"),
        sum(col("n_samples")).as("n_samples"),
        sum(col("energy")).as("energy"),
        max(col("peak")).as("peak"),
        max(when(col("n_samples") === AudioFrameSamples, col("energy")))
          .as("max_frame_energy"),
        min(when(col("n_samples") === AudioFrameSamples, col("energy")))
          .as("min_frame_energy"))
      .withColumn("crest2_num", col("peak") * col("peak") * col("n_samples"))
      .withColumn("crest2",
        when(col("energy") > 0L,
          col("crest2_num") / col("energy")))
      .withColumn("dyn_bits",
        when(col("n_full_frames") > 0L,
          (length(bin(expr(
            "max_frame_energy div greatest(1, min_frame_energy)")))
            .cast("long") - 1L)))
      .select("track_id", "n_frames", "n_full_frames", "n_samples",
        "energy", "peak", "max_frame_energy", "min_frame_energy",
        "crest2_num", "crest2", "dyn_bits")
      .orderBy("track_id")
  }

  val audioDynamicsOracle: String = {
    val tracks = audioTrackLens
      .map { case (t, n) => s"($t, $n)" }.mkString(", ")
    s"""WITH tracks(track_id, n) AS (VALUES $tracks),
       |s AS (
       |  SELECT track_id, i,
       |         ((i*(i+3)*31 + track_id*7919 + i*1009) % 65536) - 32768 AS v
       |  FROM tracks, unnest(generate_series(0, n - 1)) AS u(i)),
       |f AS (
       |  SELECT track_id, i // $AudioFrameSamples AS frame_idx,
       |         count(*) AS fn, CAST(sum(v * v) AS BIGINT) AS fe,
       |         CAST(max(abs(v)) AS BIGINT) AS fp
       |  FROM s GROUP BY 1, 2),
       |agg AS (
       |  SELECT CAST(track_id AS BIGINT) AS track_id,
       |    count(*) AS n_frames,
       |    CAST(sum(CASE WHEN fn = $AudioFrameSamples THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_full_frames,
       |    CAST(sum(fn) AS BIGINT) AS n_samples,
       |    CAST(sum(fe) AS BIGINT) AS energy,
       |    CAST(max(fp) AS BIGINT) AS peak,
       |    CAST(max(CASE WHEN fn = $AudioFrameSamples THEN fe END)
       |      AS BIGINT) AS max_frame_energy,
       |    CAST(min(CASE WHEN fn = $AudioFrameSamples THEN fe END)
       |      AS BIGINT) AS min_frame_energy
       |  FROM f GROUP BY 1)
       |SELECT track_id, n_frames, n_full_frames, n_samples, energy, peak,
       |  max_frame_energy, min_frame_energy,
       |  peak * peak * n_samples AS crest2_num,
       |  CASE WHEN energy > 0
       |       THEN (peak * peak * n_samples) / energy END AS crest2,
       |  CASE WHEN n_full_frames > 0
       |       THEN CAST(length(bin(max_frame_energy
       |              // greatest(1, min_frame_energy))) - 1 AS BIGINT)
       |       END AS dyn_bits
       |FROM agg ORDER BY track_id""".stripMargin
  }

  /** Blur threshold for [[sharpnessQuery]] in (milli-luma)² variance
    * units: variance-of-Laplacian below this flags the image blurry.
    * 10⁹ ≈ (1/8 of an 8-bit step at the ×1000 scale)² of texture. */
  val BlurVarThreshold = 1000000000L

  case class Sharpness(img_id: Long, n_interior: Long, sum_lap: Long,
      sum_lap2: Long, var_milli2: Long, blurry: Long)

  /** Per-image variance-of-Laplacian inside the decode stage: the
    * classic blur detector, all exact integers (4-neighbor Laplacian
    * on milli-luma, moments as longs, variance numerator
    * n·ΣL² − (ΣL)² taken in BigInt). Envelope, exactly: |L| ≤ 4·255000
    * (milli-luma ≤ 255·(299+587+114) = 255000), so ΣL² ≤ n·1.0404e12 —
    * the LONG moment s2 is exact for n ≤ 8·10⁶ interior pixels
    * (~2830×2830), enforced by a loud require (tile or [[resizeAll]]
    * bigger frames first). The variance numerator itself can reach
    * n²·1.04e12 ≈ 6.7e25 inside that envelope — past int64 — so it is
    * computed in BigInt and reported as `var_milli2` = ⌊numerator/n²⌋,
    * the per-pixel variance in (milli-luma)², which fits a long at any
    * allowed n; the blur test compares the BigInt numerator against
    * BlurVarThreshold·n² (equivalently ⌊num/n²⌋ < T for integer T) —
    * exact at every size, no division drift. */
  def sharpnessAll(media: Dataset[Media]): Dataset[Sharpness] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      readImage(m).map { bi =>
        val w = bi.getWidth; val h = bi.getHeight
        val luma = Array.ofDim[Long](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = bi.getRGB(x, y)
            luma(y * w + x) = 299L * ((p >> 16) & 0xff) +
              587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
            x += 1
          }
          y += 1
        }
        // s2 ≤ n·1.0404e12 exactly (|L| ≤ 4·255000): the long moments
        // are exact inside the required envelope, checked loudly below
        require((w - 2).toLong * (h - 2) <= 8000000L,
          s"sharpness: ${w}x$h has ${(w - 2).toLong * (h - 2)} interior " +
            "pixels > 8e6 — long ΣL² would overflow; tile or resize first")
        var n = 0L; var s = 0L; var s2 = 0L
        var yy = 1
        while (yy < h - 1) {
          var xx = 1
          while (xx < w - 1) {
            val l = 4L * luma(yy * w + xx) - luma(yy * w + xx - 1) -
              luma(yy * w + xx + 1) - luma((yy - 1) * w + xx) -
              luma((yy + 1) * w + xx)
            n += 1; s += l; s2 += l * l
            xx += 1
          }
          yy += 1
        }
        // numerator up to ~6.7e25 inside the envelope — BigInt, always
        val varNum =
          if (n > 0) BigInt(n) * BigInt(s2) - BigInt(s) * BigInt(s)
          else BigInt(0)
        val n2 = BigInt(n) * BigInt(n)
        val varMilli2 = if (n > 0) (varNum / n2).toLong else 0L
        val blurry =
          if (n == 0L || varNum < BigInt(BlurVarThreshold) * n2) 1L else 0L
        Sharpness(m.doc_id, n, s, s2, varMilli2, blurry)
      }
    })
  }

  /** mm18 — blur/sharpness gate over the image fixtures: variance of
    * the 4-neighbor Laplacian on interior pixels, the standard cheap
    * focus detector a vision-data pipeline runs before spending GPU
    * on a frame. Exactness: Laplacian values are milli-luma longs,
    * the variance NUMERATOR n·ΣL² − (ΣL)² is an exact long (envelope:
    * |L| ≤ 8·255·10³, so ΣL² ≤ n·4.2e12 — safe past 10⁶ interior
    * pixels), and the blur test cross-multiplies against
    * [[BlurVarThreshold]]·n² — no division anywhere. A constant or
    * smooth-gradient image reads variance 0 (blurry: no texture); the
    * checkerboard maxes out. Oracle replays the pixel formulas and
    * the same 4-neighbor stencil via keyed self-joins on the SQL
    * grid — decode and stencil certified together. */
  def sharpnessQuery(s: SparkSession, d: String): DataFrame = {
    val media = mediaFrame(s, fixtureImages())
    sharpnessAll(media).toDF().orderBy("img_id")
  }

  val sharpnessOracle: String = {
    val dims = fixtureDims.map { case (i, w, h) => s"($i, $w, $h)" }
      .mkString(", ")
    s"""WITH dims(img_id, w, h) AS (VALUES $dims),
       |px AS (
       |  SELECT d.img_id, d.w, d.h, xs.x, ys.y
       |  FROM dims d,
       |    LATERAL unnest(generate_series(0, d.w - 1)) AS xs(x),
       |    LATERAL unnest(generate_series(0, d.h - 1)) AS ys(y)),
       |c AS (
       |  SELECT img_id, w, h, x, y,
       |    CAST(299 * (CASE WHEN img_id = 6
       |           THEN ((x * 73 + y * 151) * 179) % 256 ELSE $grayV END)
       |       + 587 * (CASE WHEN img_id = 6
       |           THEN ((x * 31 + y * 17) * 113) % 256 ELSE $grayV END)
       |       + 114 * (CASE WHEN img_id = 6
       |           THEN ((x + y * 7) * 59) % 256 ELSE $grayV END)
       |      AS BIGINT) AS luma
       |  FROM px),
       |lap AS (
       |  SELECT ctr.img_id,
       |         4 * ctr.luma - lft.luma - rgt.luma - up.luma - dwn.luma
       |           AS l
       |  FROM c ctr
       |  JOIN c lft ON lft.img_id = ctr.img_id AND lft.y = ctr.y
       |            AND lft.x = ctr.x - 1
       |  JOIN c rgt ON rgt.img_id = ctr.img_id AND rgt.y = ctr.y
       |            AND rgt.x = ctr.x + 1
       |  JOIN c up  ON up.img_id = ctr.img_id AND up.x = ctr.x
       |            AND up.y = ctr.y - 1
       |  JOIN c dwn ON dwn.img_id = ctr.img_id AND dwn.x = ctr.x
       |            AND dwn.y = ctr.y + 1
       |  WHERE ctr.x BETWEEN 1 AND ctr.w - 2
       |    AND ctr.y BETWEEN 1 AND ctr.h - 2),
       |agg AS (
       |  SELECT img_id, count(*) AS n, CAST(sum(l) AS BIGINT) AS s,
       |         CAST(sum(l * l) AS BIGINT) AS s2
       |  FROM lap GROUP BY 1)
       |SELECT CAST(d.img_id AS BIGINT) AS img_id,
       |  CAST(coalesce(a.n, 0) AS BIGINT) AS n_interior,
       |  CAST(coalesce(a.s, 0) AS BIGINT) AS sum_lap,
       |  CAST(coalesce(a.s2, 0) AS BIGINT) AS sum_lap2,
       |  CAST(coalesce((CAST(a.n AS HUGEINT) * a.s2 - CAST(a.s AS HUGEINT) * a.s)
       |                // (CAST(a.n AS HUGEINT) * a.n), 0) AS BIGINT) AS var_milli2,
       |  CAST(CASE WHEN coalesce(a.n, 0) = 0 THEN 1
       |            WHEN CAST(a.n AS HUGEINT) * a.s2 - CAST(a.s AS HUGEINT) * a.s
       |                 < CAST($BlurVarThreshold AS HUGEINT) * a.n * a.n THEN 1
       |            ELSE 0 END AS BIGINT) AS blurry
       |FROM dims d LEFT JOIN agg a ON d.img_id = a.img_id
       |ORDER BY img_id""".stripMargin
  }

  /** Landmark fan-out window for [[audioFingerprintQuery]]: an anchor
    * peak pairs with every later peak at most this many frames ahead
    * (Shazam's "target zone" depth). */
  val FingerprintFanFrames = 6L

  /** mm16's OWN catalog tracks — same waveform formula, but tens of
    * frames per track (mm6's mixed-length tracks top out at 8 frames,
    * too short for a peak constellation to exist). Track 16 is the
    * single-partial-frame edge case. */
  val fingerprintTrackLens: Seq[(Long, Int)] =
    Seq(11L -> 10240, 12L -> 9000, 13L -> 8192, 14L -> 6000,
      15L -> 12288, 16L -> 100)

  private[graft] def fixtureFingerprintCatalog(): Seq[(Long, Array[Byte])] =
    fingerprintTrackLens.map { case (t, n) =>
      val bb = java.nio.ByteBuffer.allocate(n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i => bb.putShort(audioSample(t, i.toLong).toShort))
      (t, bb.array())
    }

  /** Query snippets for mm16: (query id, formula track it copies,
    * frame offset into that track, snippet sample count). 103 is a
    * whole-track copy of the single-partial-frame track (one frame →
    * one peak → ZERO landmarks: unmatchable-by-design, the too-short
    * query). 104 copies formula track 9 which is NOT in the catalog
    * (the true-negative: its landmarks match nothing). */
  val fingerprintQueries: Seq[(Long, Long, Long, Int)] =
    Seq((101L, 15L, 10L, 4096), (102L, 12L, 4L, 2048),
      (103L, 16L, 0L, 100), (104L, 9L, 0L, 3000))

  private[graft] def fixtureAudioQueries(): Seq[(Long, Array[Byte])] =
    fingerprintQueries.map { case (qid, src, off, n) =>
      val bb = java.nio.ByteBuffer.allocate(n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i => bb.putShort(
        audioSample(src, i.toLong + off * AudioFrameSamples).toShort))
      (qid, bb.array())
    }

  /** Energy peaks + constellation landmarks over a frame table: the
    * shared stage of mm16's catalog and query sides. A peak is a
    * frame whose energy STRICTLY exceeds both neighbours (track edges
    * count as −∞); a landmark is an (anchor peak, later peak) pair at
    * most [[FingerprintFanFrames]] apart, keyed by the EXACT
    * (anchor energy, target energy, Δframe) triple. */
  private def landmarksOf(frames: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("frame_idx")
    val peaks = frames
      .withColumn("pe", lag(col("energy"), 1).over(w))
      .withColumn("ne", lead(col("energy"), 1).over(w))
      .filter((col("pe").isNull || col("energy") > col("pe")) &&
        (col("ne").isNull || col("energy") > col("ne")))
      .select(col(idCol), col("frame_idx"), col("energy"))
    val tgt = peaks.select(col(idCol).as("tid2"),
      col("frame_idx").as("f2"), col("energy").as("e2"))
    peaks
      .join(tgt, col(idCol) === col("tid2") &&
        col("f2") > col("frame_idx") &&
        col("f2") <= col("frame_idx") + FingerprintFanFrames)
      .select(col(idCol), col("frame_idx").as("fa"),
        col("energy").as("ea"), col("e2").as("et"),
        (col("f2") - col("frame_idx")).as("dt"))
  }

  /** mm16 — audio fingerprint MATCHING, the constellation/landmark
    * method (Wang 2003, the Shazam shape) over the deterministic PCM
    * fixture: catalog tracks and query snippets each reduce to energy
    * peaks, peaks pair into (anchor, target, Δt) landmarks, and a
    * query matches a catalog track when many landmark keys agree AT A
    * CONSISTENT FRAME OFFSET — the offset-vote histogram is what
    * separates a true containment from coincidental key collisions.
    * Landmark keys here are the exact frame energies (the fixture
    * copies are bit-exact; a real deployment quantizes the energy to
    * buckets — one `div` on the same column, same plan). Scale shape:
    * the catalog landmark table IS the inverted index, the match is
    * ONE equi-join on the (ea, et, dt) key followed by two keyed
    * aggregations (votes, then per-query argmax as a struct max) —
    * no pairwise track×track comparison anywhere, exactly the dd2
    * banding posture applied to audio. Outputs one row per query:
    * its peak/landmark counts, the winning track, the winning offset
    * (in frames), and the vote count; unmatched queries surface with
    * NULL track and 0 votes via the left join from the query spec. */
  def audioFingerprintQuery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cat = mediaFrame(s, fixtureFingerprintCatalog())
    val qry = mediaFrame(s, fixtureAudioQueries())
    val catLm = landmarksOf(
      audioFramesAll(cat).toDF().select("track_id", "frame_idx", "energy"),
      "track_id")
    val qFrames = audioFramesAll(qry).toDF()
      .select(col("track_id").as("qid"), col("frame_idx"), col("energy"))
    val qPeakCount = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("qid").orderBy("frame_idx")
      qFrames
        .withColumn("pe", lag(col("energy"), 1).over(w))
        .withColumn("ne", lead(col("energy"), 1).over(w))
        .filter((col("pe").isNull || col("energy") > col("pe")) &&
          (col("ne").isNull || col("energy") > col("ne")))
        .groupBy("qid").agg(count(lit(1)).as("n_peaks"))
    }
    val qLm = landmarksOf(qFrames, "qid")
    val qLmCount = qLm.groupBy("qid").agg(count(lit(1)).as("n_landmarks"))
    val votes = qLm
      .join(catLm.select(col("track_id"), col("fa").as("cfa"),
        col("ea"), col("et"), col("dt")), Seq("ea", "et", "dt"))
      .groupBy(col("qid"), col("track_id"),
        (col("cfa") - col("fa")).as("off_frames"))
      .agg(count(lit(1)).as("votes"))
    val best = votes.groupBy("qid")
      .agg(max(struct(col("votes"), (col("track_id") * -1L).as("nt"),
        (col("off_frames") * -1L).as("no"))).as("b"))
      .select(col("qid"), col("b.votes").as("votes"),
        (col("b.nt") * -1L).as("best_track"),
        (col("b.no") * -1L).as("best_offset"))
    val spec = fingerprintQueries.map(q => q._1)
      .toDF("qid")
    spec
      .join(qPeakCount, Seq("qid"), "left")
      .join(qLmCount, Seq("qid"), "left")
      .join(best, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_peaks"), lit(0L)).as("n_peaks"),
        coalesce(col("n_landmarks"), lit(0L)).as("n_landmarks"),
        col("best_track"), col("best_offset"),
        coalesce(col("votes"), lit(0L)).as("votes"))
      .orderBy("qid")
  }

  /** DuckDB replay of mm16: both waveform families from the shared
    * formula (queries via their (src, off) lineage), the same peak /
    * landmark / offset-vote pipeline, row_number as the argmax. */
  val audioFingerprintOracle: String = {
    val cat = fingerprintTrackLens
      .map { case (t, n) => s"($t, $n)" }.mkString(", ")
    val qs = fingerprintQueries
      .map { case (q, src, off, n) => s"($q, $src, $off, $n)" }
      .mkString(", ")
    val fan = FingerprintFanFrames
    s"""WITH ct(track_id, n) AS (VALUES $cat),
       |qt(qid, src, off, n) AS (VALUES $qs),
       |cs AS (
       |  SELECT track_id, i,
       |         ((i*(i+3)*31 + track_id*7919 + i*1009) % 65536) - 32768 AS v
       |  FROM ct, unnest(generate_series(0, n - 1)) AS u(i)),
       |cf AS (
       |  SELECT track_id, i // $AudioFrameSamples AS frame_idx,
       |         CAST(sum(v * v) AS BIGINT) AS energy
       |  FROM cs GROUP BY 1, 2),
       |cpk AS (
       |  SELECT * FROM (
       |    SELECT track_id, frame_idx, energy,
       |           lag(energy) OVER w AS pe, lead(energy) OVER w AS ne
       |    FROM cf WINDOW w AS (PARTITION BY track_id ORDER BY frame_idx))
       |  WHERE (pe IS NULL OR energy > pe) AND (ne IS NULL OR energy > ne)),
       |clm AS (
       |  SELECT a.track_id, a.frame_idx AS fa, a.energy AS ea,
       |         b.energy AS et, b.frame_idx - a.frame_idx AS dt
       |  FROM cpk a JOIN cpk b ON a.track_id = b.track_id
       |   AND b.frame_idx > a.frame_idx
       |   AND b.frame_idx <= a.frame_idx + $fan),
       |qsmp AS (
       |  SELECT qid,
       |         i // $AudioFrameSamples AS frame_idx,
       |         ((((i + off * $AudioFrameSamples))
       |           * ((i + off * $AudioFrameSamples) + 3) * 31
       |           + src * 7919
       |           + (i + off * $AudioFrameSamples) * 1009) % 65536) - 32768
       |           AS v
       |  FROM qt, unnest(generate_series(0, n - 1)) AS u(i)),
       |qf AS (
       |  SELECT qid, frame_idx, CAST(sum(v * v) AS BIGINT) AS energy
       |  FROM qsmp GROUP BY 1, 2),
       |qpk AS (
       |  SELECT * FROM (
       |    SELECT qid, frame_idx, energy,
       |           lag(energy) OVER w AS pe, lead(energy) OVER w AS ne
       |    FROM qf WINDOW w AS (PARTITION BY qid ORDER BY frame_idx))
       |  WHERE (pe IS NULL OR energy > pe) AND (ne IS NULL OR energy > ne)),
       |qlm AS (
       |  SELECT a.qid, a.frame_idx AS fa, a.energy AS ea,
       |         b.energy AS et, b.frame_idx - a.frame_idx AS dt
       |  FROM qpk a JOIN qpk b ON a.qid = b.qid
       |   AND b.frame_idx > a.frame_idx
       |   AND b.frame_idx <= a.frame_idx + $fan),
       |v AS (
       |  SELECT q.qid, c.track_id, c.fa - q.fa AS off_frames,
       |         count(*) AS votes
       |  FROM qlm q JOIN clm c
       |    ON q.ea = c.ea AND q.et = c.et AND q.dt = c.dt
       |  GROUP BY 1, 2, 3),
       |best AS (
       |  SELECT qid, track_id, off_frames, votes,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY votes DESC, track_id, off_frames) AS rn
       |  FROM v),
       |pk AS (SELECT qid, count(*) AS n_peaks FROM qpk GROUP BY 1),
       |lmc AS (SELECT qid, count(*) AS n_landmarks FROM qlm GROUP BY 1)
       |SELECT CAST(q.qid AS BIGINT) AS qid,
       |       CAST(coalesce(pk.n_peaks, 0) AS BIGINT) AS n_peaks,
       |       CAST(coalesce(lmc.n_landmarks, 0) AS BIGINT) AS n_landmarks,
       |       CAST(b.track_id AS BIGINT) AS best_track,
       |       CAST(b.off_frames AS BIGINT) AS best_offset,
       |       CAST(coalesce(b.votes, 0) AS BIGINT) AS votes
       |FROM qt q
       |LEFT JOIN pk ON q.qid = pk.qid
       |LEFT JOIN lmc ON q.qid = lmc.qid
       |LEFT JOIN best b ON q.qid = b.qid AND b.rn = 1
       |ORDER BY q.qid""".stripMargin
  }
}
