package graft.ops

import graft.Q
import graft.functions.SparkSemantics
import graft.sources.{Tables => T}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column pipeline (SURVEY.md §2.4 q_multimodal_features).
  *
  * Media is carried as an opaque `binary` column + typed metadata; decode /
  * feature-extract runs as a per-partition batch transform (mapPartitions)
  * so a real codec would amortize its init (model load, JNI handle) once
  * per partition, not per row — the Spark-side plumbing (schema, batching,
  * partition-parallelism) is real, only the codec is stubbed.
  *
  * The container has no image/audio libs, so [[DecodeStub]] is a
  * clearly-marked deterministic fake: "dimensions" derived from byte
  * length, "content fingerprint" = MD5 of the bytes (which a real decoder
  * would replace with perceptual hashes / embeddings).
  */
object Multimodal {

  /** STUB decode: replace with a real codec (libjpeg/ffmpeg/…) in prod. */
  object DecodeStub {
    def features(bytes: Array[Byte]): (Long, Long, Long, String) = {
      val len = bytes.length.toLong
      val md = java.security.MessageDigest.getInstance("MD5")
      val fp = md.digest(bytes).map("%02x".format(_)).mkString
      // fake "decoded" dimensions, deterministic in the payload size
      (len, 1 + len % 64, 1 + len % 48, fp)
    }
  }

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("fingerprint", StringType, nullable = false)))

  /** Binary column -> feature rows, one decoder init per partition. */
  def extractFeatures(binDf: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = binDf.sparkSession
    val enc = RowEncoder.encoderFor(featureSchema)
    binDf.select(col(idCol).cast("long"), col(binCol))
      .mapPartitions { it =>
        // a real pipeline would initialize the codec HERE, once
        it.map { r =>
          val (len, w, h, fp) = DecodeStub.features(r.getAs[Array[Byte]](1))
          Row(r.getLong(0), len, w, h, fp)
        }
      }(enc)
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", LongType, nullable = false),
    StructField("frame_bytes", BinaryType, nullable = false),
    StructField("frame_fp", StringType, nullable = false)))

  /** Frame sampling: one media payload -> every `stride`-th fixed-size
    * chunk as a "frame" row (a real video codec would seek keyframes; the
    * STUB slices byte ranges). One-to-many mapPartitions keeps the
    * expansion pipelined — no driver materialization, frames spill with
    * the partition. */
  def sampleFrames(binDf: DataFrame, idCol: String, binCol: String,
                   frameSize: Int = 64, stride: Int = 4): DataFrame = {
    val enc = RowEncoder.encoderFor(frameSchema)
    binDf.select(col(idCol).cast("long"), col(binCol))
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val nFrames = math.max(bytes.length / frameSize, 1)
          (0 until nFrames by stride).iterator.map { f =>
            val from = math.min(f * frameSize, math.max(bytes.length - 1, 0))
            val until = math.min(from + frameSize, bytes.length)
            val frame = java.util.Arrays.copyOfRange(bytes, from, until)
            md.reset()
            val fp = md.digest(frame).map("%02x".format(_)).mkString
            Row(id, f.toLong, frame, fp)
          }
        }
      }(enc)
  }

  /** STUB resize: a real impl would decode+scale; the fake deterministically
    * subsamples every k-th byte to the target "resolution". */
  def resizeStub(bytes: Array[Byte], targetLen: Int): Array[Byte] = {
    if (bytes.length <= targetLen) bytes
    else {
      val step = bytes.length.toDouble / targetLen
      Array.tabulate(targetLen)(i => bytes((i * step).toInt))
    }
  }

  val batchSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("batch_id", LongType, nullable = false),
    StructField("batch_size", LongType, nullable = false),
    StructField("slot", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** Micro-batching for model inference: rows are grouped into batches of
    * ≤ `batchSize` WITHIN each partition — the real pipeline stacks each
    * group into one tensor and calls the model ONCE per batch (GPU
    * amortization), never once per row and never via driver collect. The
    * per-row "score" is the stubbed model output (deterministic in the
    * payload bytes); batch ids encode (partition, batch index) so lineage
    * is debuggable. Batch composition legitimately depends on the
    * partitioning — scores do not. */
  def batchedInfer(binDf: DataFrame, idCol: String, binCol: String,
                   batchSize: Int = 8): DataFrame = {
    val enc = RowEncoder.encoderFor(batchSchema)
    binDf.select(col(idCol).cast("long"), col(binCol))
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId().toLong
        // a real pipeline would load the model HERE, once per partition
        it.grouped(batchSize).zipWithIndex.flatMap { case (batch, bi) =>
          // ... and run ONE forward pass for the whole `batch` here
          batch.zipWithIndex.map { case (r, slot) =>
            val bytes = r.getAs[Array[Byte]](1)
            val score = DecodeStub.features(bytes)._1.toDouble % 97 / 97.0
            Row(r.getLong(0), pid * 1000000L + bi, batch.size.toLong, slot.toLong, score)
          }
        }
      }(enc)
  }

  /** The registered output emits only the partition-INVARIANT columns
    * (doc_id, score): batch lineage (batch_id/batch_size/slot)
    * legitimately depends on the physical partitioning, so exposing it here
    * would make cross-parallelism verify dumps flake by design. The lineage
    * columns stay on [[batchedInfer]] and its spec.
    *
    * Fully oracled (r10): the stub model's score is a pure function of
    * the payload's byte length — `(len % 97) / 97` — and the payload is
    * the document text's UTF-8 bytes, so DuckDB reproduces it from
    * `strlen(text)` (bytes, not chars) without ever seeing a binary
    * column. The hash compare certifies the whole mapPartitions batching
    * path end-to-end: every row reached exactly one batch slot and came
    * back with the model output for ITS payload. */
  val qModalityBatch: Q = Q(
    "q_modality_batch",
    """SELECT doc_id, CAST(strlen(text) % 97 AS DOUBLE) / 97.0 AS score
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    batchedInfer(
      T.documents(s, d).select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload")
      .select(col("doc_id"), col("score"))
      .orderBy("doc_id")
  }

  /** Per-doc frame summary off [[sampleFrames]]: sampled-frame count,
    * first sampled index, and the first frame's MD5 fingerprint.
    *
    * Fully oracled (r10): the stub codec slices fixed 64-byte frames at
    * stride 4 off the payload (= the text's UTF-8 bytes), so every
    * output column is a pure function DuckDB can recompute — frame
    * count from `strlen`, the first-frame fingerprint as
    * `md5(substr(text, 1, 64))` (MD5 of the same bytes; `substr` slices
    * CHARS, which equals the byte slice while the corpus is ASCII — a
    * non-ASCII generator change would surface as a loud hash mismatch,
    * not silent corruption). This certifies the one-to-many
    * mapPartitions expansion: per-doc frame cardinality, stride
    * arithmetic, and the actual sliced bytes all hash-match. */
  val qFrameSample: Q = Q(
    "q_frame_sample",
    """SELECT doc_id,
      |  (GREATEST(strlen(text) // 64, 1) - 1) // 4 + 1 AS n_frames,
      |  CAST(0 AS BIGINT) AS first_idx,
      |  md5(substr(text, 1, 64)) AS first_fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    sampleFrames(
      T.documents(s, d).select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), min(col("frame_idx")).as("first_idx"),
        min_by(col("frame_fp"), col("frame_idx")).as("first_fp"))
      .orderBy("doc_id")
  }

  /** REAL image decode path (r8): PNG/JPEG/GIF/BMP via the JDK's own
    * ImageIO — zero external deps, works headless — behind the SAME
    * mapPartitions interface as the stub pipeline. This closes the
    * "codec is a fake" corner: the stub remains for byte-determinism
    * specs; this path decodes actual pixels. */
  object ImageCodec {
    /** (width, height, mean luminance 0-255) of a decodable image.
      * Corrupt payloads flag as None rather than killing the task — that
      * covers ALL failure shapes: unrecognized bytes (ImageIO returns
      * null), a recognized-but-damaged image (valid signature, truncated
      * body — the reader THROWS IIOException mid-decode), and malformed
      * payloads that make a plugin reader throw a RUNTIME exception
      * (ArrayIndexOutOfBounds / NegativeArraySize / CMMException are all
      * observed ImageIO failure modes) — hence NonFatal, not just
      * IOException: "flagged, never fatal" has to hold for every
      * reachable throw. */
    def decode(bytes: Array[Byte]): Option[(Int, Int, Double)] = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        var sum = 0.0
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
            // ITU-R BT.601 luma
            sum += 0.299 * r + 0.587 * g + 0.114 * b
            x += 1
          }
          y += 1
        }
        Some((img.getWidth, img.getHeight, sum / (img.getWidth.toLong * img.getHeight)))
      }
    }

    /** Re-encode a BufferedImage as PNG bytes. */
    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** Real resize: decode, repaint at (w, h), re-encode PNG. Corrupt
      * payloads (incl. truncated-body IIOExceptions and plugin-reader
      * RuntimeExceptions — see [[decode]]) drop as None. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
      val src =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (src == null) None
      else {
        val dst = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try g.drawImage(src, 0, 0, w, h, null) finally g.dispose()
        Some(encodePng(dst))
      }
    }
  }

  /** Repaint an already-decoded image at (w, h) and return the BT.601
    * luma grid (row-major) — the shared primitive behind the perceptual
    * hashes; [[imageSignatures]] calls it twice per ONE decode. */
  private def lumaGrid(src: java.awt.image.BufferedImage,
                       w: Int, h: Int): Array[Double] = {
    val dst = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try g.drawImage(src, 0, 0, w, h, null) finally g.dispose()
    val out = new Array[Double](w * h)
    var i = 0
    while (i < w * h) {
      val rgb = dst.getRGB(i % w, i / w)
      out(i) = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
        0.114 * (rgb & 0xff)
      i += 1
    }
    out
  }

  /** 64-bit AVERAGE-HASH perceptual signature (aHash): decode, repaint
    * to an 8×8 grayscale grid, bit i = pixel_i > grid mean. Robust to
    * re-encoding, resizing, and uniform brightness shifts — the classic
    * cheap perceptual fingerprint. None for undecodable payloads. */
  def aHash(bytes: Array[Byte]): Option[Long] =
    ImageCodec.resize(bytes, 8, 8).map { png =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      val luma = new Array[Double](64)
      var i = 0
      while (i < 64) {
        val rgb = img.getRGB(i % 8, i / 8)
        luma(i) = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        i += 1
      }
      val mean = luma.sum / 64
      var h = 0L
      i = 0
      while (i < 64) { if (luma(i) > mean) h |= (1L << i); i += 1 }
      h
    }

  /** 64-bit DIFFERENCE-HASH perceptual signature (dHash): decode, repaint
    * to a 9×8 grayscale grid, bit (y*8+x) = luma(x,y) < luma(x+1,y) — the
    * horizontal-GRADIENT fingerprint. Complements [[aHash]]: a crop or a
    * small rotation shifts every pixel against the global mean (aHash
    * bits churn) but mostly preserves local left-to-right gradients, so
    * dHash survives edits aHash misses — and vice versa for global
    * re-lighting. None for undecodable payloads. */
  def dHash(bytes: Array[Byte]): Option[Long] =
    ImageCodec.resize(bytes, 9, 8).map { png =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      def luma(x: Int, y: Int): Double = {
        val rgb = img.getRGB(x, y)
        0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
      }
      var h = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (luma(x, y) < luma(x + 1, y)) h |= (1L << (y * 8 + x))
          x += 1
        }
        y += 1
      }
      h
    }

  /** How far from flat the 8×8 luma grid must span for its hashes to
    * carry signal; below this every bit is noise around the mean. */
  private[graft] val FlatLumaRange = 8.0

  /** Per-image perceptual signatures: (doc_id, ahash, dhash, mean_luma,
    * flat, decoded) — corrupt payloads flagged, never dropped. `flat` is
    * the degenerate-signature guard: a near-uniform image (solid color,
    * blank page) hashes to all-zero bits under BOTH aHash (no pixel above
    * the mean) and dHash (no gradients), so hash distance alone would
    * collapse every flat image into one cluster; `mean_luma` is the cheap
    * secondary signal that still separates them ([[imageNearDupPairs]]).
    * mapPartitions so a real codec amortizes init per partition. */
  def imageSignatures(binDf: DataFrame, idCol: String, binCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false),
      StructField("dhash", LongType, nullable = false),
      StructField("mean_luma", DoubleType, nullable = false),
      StructField("flat", BooleanType, nullable = false),
      StructField("decoded", BooleanType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    binDf.select(col(idCol).cast("long"), col(binCol))
      .mapPartitions { it =>
        it.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          // decode ONCE per row — the full-size ImageIO decode dominates
          // per-row cost on an image corpus; both perceptual grids (8×8
          // aHash, 9×8 dHash) repaint from the one decoded image.
          // Repaint-without-PNG-round-trip is pixel-identical to
          // aHash/dHash over the same payload (PNG is lossless), so the
          // standalone functions and this fused path agree bit-for-bit.
          val src =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            catch { case scala.util.control.NonFatal(_) => null }
          if (src == null) Row(r.getLong(0), 0L, 0L, 0.0, false, false)
          else {
            val luma = lumaGrid(src, 8, 8)
            val mean = luma.sum / 64
            var ah = 0L
            var i = 0
            while (i < 64) { if (luma(i) > mean) ah |= (1L << i); i += 1 }
            val flat = (luma.max - luma.min) < FlatLumaRange
            val l9 = lumaGrid(src, 9, 8)
            var dh = 0L
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                if (l9(y * 9 + x) < l9(y * 9 + x + 1)) dh |= (1L << (y * 8 + x))
                x += 1
              }
              y += 1
            }
            Row(r.getLong(0), ah, dh, mean, flat, true)
          }
        }
      }(enc)
  }

  /** IMAGE near-dup pairs at hamming <= maxDist over EITHER perceptual
    * hash — the pixel-domain leg of the dedup family, on the exact
    * machinery q_dedup_simhash uses for text: 16-bit band buckets as
    * candidate keys (PIGEONHOLE-LOSSLESS per hash for maxDist <= 3: a
    * pair differing in <= 3 bits of a hash leaves at least one of that
    * hash's 4 bands identical), verified with the codegen
    * bit_count(xor). A pair qualifies when its aHash OR its dHash is
    * within maxDist — aHash catches re-encodes/resizes/brightness
    * shifts, dHash catches crops and small rotations whose global-mean
    * churn defeats aHash; each hash's own banding stays lossless for
    * its qualifying pairs, so the union misses nothing either leg
    * claims. Flat-image guard: near-uniform images hash to all-zero
    * bits under both hashes, so a candidate pair of two FLAT images
    * must also agree on mean luma — solid black and solid white stop
    * collapsing into one cluster. The only shuffle is the band
    * equi-join — no image pair is ever compared that shares no band. */
  def imageNearDupPairs(binDf: DataFrame, idCol: String, binCol: String,
                        maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4x16-bit banding is only lossless for hamming <= 3")
    val sig = imageSignatures(binDf, idCol, binCol)
      .filter(col("decoded"))
      .select(col("doc_id").as("id"), col("ahash"), col("dhash"),
        col("mean_luma"), col("flat"))
      .localCheckpoint(true) // both self-join sides read it: decode once
    // band space: hash index (0=aHash, 1=dHash) × 4 16-bit slices
    val banded = sig.select(col("id"), col("ahash"), col("dhash"),
        col("mean_luma"), col("flat"),
        explode(array((for (h <- 0 until 2; j <- 0 until 4) yield
          struct(lit(h * 4 + j).as("band"),
            shiftright(if (h == 0) col("ahash") else col("dhash"), 16 * j)
              .bitwiseAND(lit(65535L)).as("bval"))): _*)).as("x"))
      .select(col("id"), col("ahash"), col("dhash"), col("mean_luma"),
        col("flat"), col("x.band").as("band"), col("x.bval").as("bval"))
    val a = banded.select(col("band"), col("bval"), col("id").as("id_a"),
      col("ahash").as("aa"), col("dhash").as("da"),
      col("mean_luma").as("la"), col("flat").as("fa"))
    val b = banded.select(col("band"), col("bval"), col("id").as("id_b"),
      col("ahash").as("ab"), col("dhash").as("db"),
      col("mean_luma").as("lb"), col("flat").as("fb"))
    a.join(b, Seq("band", "bval")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("aa").bitwiseXOR(col("ab"))).cast("long").as("hamming"),
        bit_count(col("da").bitwiseXOR(col("db"))).cast("long").as("hamming_d"),
        abs(col("la") - col("lb")).as("luma_delta"),
        (col("fa") && col("fb")).as("both_flat"))
      .distinct()
      .filter(least(col("hamming"), col("hamming_d")) <= maxDist)
      .filter(!col("both_flat") || col("luma_delta") < lit(FlatLumaRange))
      .select("id_a", "id_b", "hamming", "hamming_d", "luma_delta")
  }

  /** IMAGE dedup end-to-end: perceptual pairs → connected components →
    * min-id survivor per cluster — [[imageNearDupPairs]] composed with
    * the same component machinery the text family uses. Returns
    * (doc_id, survivor_id, keep) for every DECODABLE image; corrupt
    * payloads are excluded here (count them via [[imageSignatures]]'
    * decoded flag — a corrupt payload has no pixels to match on). */
  def imageDedupPick(binDf: DataFrame, idCol: String, binCol: String,
                     maxDist: Int = 3): DataFrame = {
    val sigs = imageSignatures(binDf, idCol, binCol)
      .filter(col("decoded")).select(col("doc_id")).localCheckpoint(true)
    val pairs = imageNearDupPairs(binDf, idCol, binCol, maxDist)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comp = graft.operators.GraphOps2.connectedComponents(pairs, 20)
    sigs
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("survivor_id"),
        (col("doc_id") === coalesce(col("lbl"), col("doc_id"))).as("keep"))
      .orderBy("doc_id")
  }

  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("decoded", BooleanType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = false)))

  /** Binary column -> REAL decoded features (ImageIO), one partition at a
    * time — same shape as [[extractFeatures]], real pixels instead of the
    * stub arithmetic. Undecodable payloads come back flagged, never
    * dropped (corpus QC wants the corrupt count). */
  def extractImageFeatures(binDf: DataFrame, idCol: String, binCol: String): DataFrame = {
    val enc = RowEncoder.encoderFor(imageFeatureSchema)
    binDf.select(col(idCol).cast("long"), col(binCol))
      .mapPartitions { it =>
        it.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          ImageCodec.decode(bytes) match {
            case Some((w, h, luma)) =>
              Row(r.getLong(0), bytes.length.toLong, true, w.toLong, h.toLong,
                SparkSemantics.round(luma, 6))
            case None =>
              Row(r.getLong(0), bytes.length.toLong, false, 0L, 0L, 0.0)
          }
        }
      }(enc)
  }

  /** Binary column -> resized PNG payloads (real decode + repaint +
    * re-encode), pipelined per partition; undecodable rows are dropped
    * (the feature pass above is where corruption is counted). */
  def resizeImages(binDf: DataFrame, idCol: String, binCol: String,
                   w: Int, h: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("png", BinaryType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    binDf.select(col(idCol).cast("long"), col(binCol))
      .mapPartitions { it =>
        it.flatMap { r =>
          ImageCodec.resize(r.getAs[Array[Byte]](1), w, h)
            .map(png => Row(r.getLong(0), png))
        }
      }(enc)
  }

  /** documents.text cast to binary stands in for a media payload; the
    * oracle reproduces the stub arithmetic over octet_length + md5. */
  val qMultimodalFeatures: Q = Q(
    "q_multimodal_features",
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  CAST(1 + octet_length(encode(text)) % 64 AS BIGINT) AS width,
      |  CAST(1 + octet_length(encode(text)) % 48 AS BIGINT) AS height,
      |  md5(text) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    extractFeatures(
      T.documents(s, d).select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------------
  // AUDIO: real WAV/PCM codec + spectral-fingerprint near-dup
  // ---------------------------------------------------------------------

  /** REAL audio decode path (VERDICT r12 #7, the [[ImageCodec]] precedent
    * applied to sound): WAV/PCM via the JDK's own javax.sound.sampled —
    * zero external deps, works headless — behind the same mapPartitions
    * interface as the stub pipeline. Corrupt payloads flag as None, never
    * kill the task: unrecognized bytes (UnsupportedAudioFileException), a
    * recognized-but-truncated body (IOException mid-read), and malformed
    * headers that make the WAV reader throw runtime exceptions are all
    * NonFatal-absorbed, matching the image codec's quarantine contract. */
  object AudioCodec {

    /** (sampleRate, channels, mono samples in [-1, 1]) of a decodable
      * clip. Multi-channel input is downmixed by per-frame mean; sample
      * width is normalized to signed 16-bit little-endian by the JDK's
      * own converter (so 8-bit/big-endian/unsigned variants decode to
      * the same number line). */
    def decode(bytes: Array[Byte]): Option[(Float, Int, Array[Double])] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val target = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            fmt.getSampleRate, 16, fmt.getChannels, fmt.getChannels * 2,
            fmt.getSampleRate, false)
          val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, in)
          val raw = pcm.readAllBytes()
          val ch = fmt.getChannels
          val n = raw.length / 2 / ch
          val mono = new Array[Double](n)
          var i = 0
          while (i < n) {
            var acc = 0.0
            var c = 0
            while (c < ch) {
              val off = (i * ch + c) * 2
              acc += (((raw(off + 1) << 8) | (raw(off) & 0xff)).toShort) / 32768.0
              c += 1
            }
            mono(i) = acc / ch
            i += 1
          }
          Some((fmt.getSampleRate, ch, mono))
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Encode mono samples as 16-bit signed PCM WAV. */
    def encodeWav(samples: Array[Double], sampleRate: Float): Array[Byte] = {
      val raw = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        val v = math.round(math.max(-1.0, math.min(1.0, samples(i))) * 32767).toShort
        raw(2 * i) = (v & 0xff).toByte
        raw(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }

    /** Encode mono samples as 8-bit UNSIGNED PCM WAV — the lossy
      * re-encode twin for the near-dup specs (adds ~48 dB quantization
      * noise, the way a low-bitrate transcode perturbs a clip). */
    def encodeWav8(samples: Array[Double], sampleRate: Float): Array[Byte] = {
      val raw = new Array[Byte](samples.length)
      var i = 0
      while (i < samples.length) {
        raw(i) = (math.round(math.max(-1.0, math.min(1.0, samples(i))) * 127) + 128).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 8, 1, false, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
  }

  /** How many of the 64 spectral bands must straddle their mean for a
    * clip to count as non-degenerate (silence / DC hum concentrates
    * energy so the above-mean mask goes near-empty or near-full). */
  private val FlatSpectrumBits = 4

  /** 64-bit SPECTRAL fingerprint of a mono clip — aHash's shape in the
    * frequency domain: Goertzel band energies at 64 log-spaced
    * frequencies (100 Hz … 0.45·rate), bit i set iff band i's energy
    * exceeds the 64-band mean. A uniform GAIN scales every band energy
    * by the same factor, so the above-mean mask — and the fingerprint —
    * is exactly volume-invariant; a lossy re-encode perturbs band
    * energies slightly, moving only bits whose energy sat near the mean
    * (small hamming distance); different material has a different
    * spectral shape entirely. O(64·n) per clip, no FFT dependency. */
  def audioFingerprint(samples: Array[Double], sampleRate: Float): (Long, Boolean) = {
    val n = samples.length
    if (n == 0) return (0L, true)
    val fMin = 100.0
    val fMax = 0.45 * sampleRate
    val e = new Array[Double](64)
    var b = 0
    while (b < 64) {
      val f = fMin * math.pow(fMax / fMin, b / 63.0)
      val w = 2.0 * math.Pi * f / sampleRate
      val coeff = 2.0 * math.cos(w)
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
      var i = 0
      while (i < n) {
        s0 = samples(i) + coeff * s1 - s2
        s2 = s1; s1 = s0
        i += 1
      }
      e(b) = s1 * s1 + s2 * s2 - coeff * s1 * s2
      b += 1
    }
    val mean = e.sum / 64
    var fp = 0L
    var above = 0
    var i = 0
    while (i < 64) {
      if (e(i) > mean) { fp |= (1L << i); above += 1 }
      i += 1
    }
    (fp, above < FlatSpectrumBits || above > 64 - FlatSpectrumBits)
  }

  /** Binary column → per-clip spectral signature: (doc_id, afp, flat,
    * n_samples, decoded). mapPartitions like [[imageSignatures]];
    * corrupt payloads come back flagged, never dropped. */
  def audioSignatures(binDf: DataFrame, idCol: String, binCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("afp", LongType, nullable = false),
      StructField("flat", BooleanType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("decoded", BooleanType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    binDf.select(col(idCol).cast("long"), col(binCol))
      .mapPartitions { it =>
        it.map { r =>
          AudioCodec.decode(r.getAs[Array[Byte]](1)) match {
            case Some((rate, _, mono)) =>
              val (fp, flat) = audioFingerprint(mono, rate)
              Row(r.getLong(0), fp, flat, mono.length.toLong, true)
            case None => Row(r.getLong(0), 0L, false, 0L, false)
          }
        }
      }(enc)
  }

  /** AUDIO near-dup pairs at hamming <= maxDist over the spectral
    * fingerprint — the sound-domain leg of the dedup family on the text
    * family's exact machinery: 4×16-bit band buckets as candidate keys
    * (pigeonhole-lossless for maxDist ≤ 3), codegen bit_count(xor)
    * verify, the only shuffle the band equi-join. Volume-shifted and
    * re-encoded copies pair (the fingerprint is gain-invariant and
    * quantization noise moves few bits); different clips don't. Flat
    * guard: silence and near-silence degenerate to all-zero/all-one
    * masks under ANY gain, so a flat-flat candidate pair must also agree
    * on duration before it counts. */
  def audioNearDupPairs(binDf: DataFrame, idCol: String, binCol: String,
                        maxDist: Int = 3): DataFrame = {
    val sig = audioSignatures(binDf, idCol, binCol)
      .filter(col("decoded"))
      .select(col("doc_id").as("id"), col("afp").as("fp"), col("flat"),
        col("n_samples").as("len"))
      .localCheckpoint(true) // both self-join sides read it: decode +
                             // Goertzel fingerprint once per clip
    hamming64BandPairs(sig, maxDist)
  }

  /** The single-signature media near-dup MACHINERY, signature-source
    * agnostic: 4×16-bit band buckets as candidate keys (pigeonhole-
    * lossless for maxDist ≤ 3), codegen bit_count(xor) verify, flat
    * guard (degenerate signatures must also agree on `len` before a pair
    * counts), the only shuffle the band equi-join. Input: (id, fp, flat,
    * len). Shared by the REAL audio leg ([[audioNearDupPairs]] — decode
    * can't replay in SQL, so it stays spec-covered) and the STUB-
    * signature gate query ([[qMediaNeardup]] — pure byte-function
    * signatures the DuckDB oracle replays, so THIS machinery joins the
    * full-hash correctness gate at every SF). */
  private[graft] def hamming64BandPairs(sig: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "4x16-bit banding is only lossless for hamming <= 3")
    val banded = sig.select(col("id"), col("fp"), col("flat"), col("len"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("band"),
            shiftright(col("fp"), 16 * j).bitwiseAND(lit(65535L)).as("bval"))): _*)).as("x"))
      .select(col("id"), col("fp"), col("flat"), col("len"),
        col("x.band").as("band"), col("x.bval").as("bval"))
    val a = banded.select(col("band"), col("bval"), col("id").as("id_a"),
      col("fp").as("fa"), col("flat").as("xa"), col("len").as("na"))
    val b = banded.select(col("band"), col("bval"), col("id").as("id_b"),
      col("fp").as("fb"), col("flat").as("xb"), col("len").as("nb"))
    a.join(b, Seq("band", "bval")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long").as("hamming"),
        (col("xa") && col("xb")).as("both_flat"),
        (col("na") === col("nb")).as("same_len"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .filter(!col("both_flat") || col("same_len"))
      .select("id_a", "id_b", "hamming")
  }

  // ---------------------------------------------------------------------
  // VIDEO: real MJPEG-in-AVI container codec + frame-aligned near-dup
  // ---------------------------------------------------------------------

  /** REAL video container path: MJPEG-in-AVI via a plain RIFF chunk walk
    * (the AVI container is a RIFF tree; MJPEG stores each frame as an
    * independent JPEG in a `00dc` chunk of the `movi` list) — zero
    * external deps, frames decode through the same JDK ImageIO the image
    * leg uses. This is a real container format, not a byte-slicing stub:
    * ffmpeg-written MJPEG AVIs parse with the same walk. Malformed
    * payloads (not RIFF/AVI, truncated chunk bodies, chunk sizes past
    * EOF) come back None — the image/audio quarantine contract. */
  object VideoCodec {

    private def le32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** The JPEG payload of every video frame (`..dc`/`..db` chunks of the
      * `movi` list, in file order). None if the payload is not a
      * well-formed AVI. */
    def decodeFrames(bytes: Array[Byte]): Option[Seq[Array[Byte]]] =
      try {
        if (bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
            fourcc(bytes, 8) != "AVI ") return None
        val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
        // walk LIST chunks; recurse into 'movi', and INSIDE movi into
        // any nested LIST — interleaved AVIs group frames in 'rec '
        // lists (the layout ffmpeg writes with audio present), and a
        // movi-only recursion would decode those clips to zero frames.
        // Frame chunks count only INSIDE movi: a '..dc'-shaped id
        // elsewhere (index or header data) is not a frame.
        def walk(from: Int, to: Int, inMovi: Boolean): Unit = {
          var p = from
          while (p + 8 <= to) {
            val id = fourcc(bytes, p)
            val sz = le32(bytes, p + 4)
            if (sz < 0 || p + 8 + sz > to) throw new java.io.IOException("chunk past end")
            if (id == "LIST") {
              val listType = fourcc(bytes, p + 8)
              if (listType == "movi" || inMovi)
                walk(p + 12, p + 8 + sz, inMovi || listType == "movi")
            } else if (inMovi && id.length == 4 &&
                (id.endsWith("dc") || id.endsWith("db"))) {
              frames += java.util.Arrays.copyOfRange(bytes, p + 8, p + 8 + sz)
            }
            p += 8 + sz + (sz & 1) // chunks are word-aligned
          }
        }
        walk(12, math.min(bytes.length, 8 + le32(bytes, 4)), inMovi = false)
        if (frames.isEmpty) None else Some(frames.toSeq)
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Encode frames as an MJPEG AVI (each frame JPEG'd at `quality`) —
      * the test-side twin of [[decodeFrames]] and the "re-encode"
      * perturbation for the near-dup specs. Header carries real
      * dimensions/counts; the payload is the `movi` list of `00dc`
      * JPEG chunks. */
    def encodeAviMjpeg(frames: Seq[java.awt.image.BufferedImage],
                       fps: Int = 10, quality: Float = 0.9f): Array[Byte] = {
      def jpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
        val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
        val p = w.getDefaultWriteParam
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(quality)
        val out = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(out)
        try { w.setOutput(ios); w.write(null, new javax.imageio.IIOImage(img, null, null), p) }
        finally { ios.close(); w.dispose() }
        out.toByteArray
      }
      val payloads = frames.map(jpeg)
      val bb = new java.io.ByteArrayOutputStream()
      def w32(v: Int): Unit = { bb.write(v & 0xff); bb.write((v >> 8) & 0xff)
        bb.write((v >> 16) & 0xff); bb.write((v >> 24) & 0xff) }
      def tag(s: String): Unit = bb.write(s.getBytes("US-ASCII"))
      val (fw, fh) = (frames.head.getWidth, frames.head.getHeight)
      // avih: 14 dwords of header (micro-sec/frame, ..., frame count, dims)
      val avih = { val a = new Array[Int](14)
        a(0) = 1000000 / fps; a(3) = 0x10; a(4) = payloads.size
        a(6) = 1; a(8) = fw; a(9) = fh; a }
      val moviBody = payloads.map(p => 8 + p.length + (p.length & 1)).sum + 4
      val hdrlBody = 4 + 8 + avih.length * 4 // 'hdrl' + avih chunk
      val riffBody = 4 + 8 + hdrlBody + 8 + moviBody
      tag("RIFF"); w32(riffBody); tag("AVI ")
      tag("LIST"); w32(hdrlBody); tag("hdrl")
      tag("avih"); w32(avih.length * 4); avih.foreach(w32)
      tag("LIST"); w32(moviBody); tag("movi")
      payloads.foreach { p =>
        tag("00dc"); w32(p.length); bb.write(p)
        if ((p.length & 1) == 1) bb.write(0)
      }
      bb.toByteArray
    }
  }

  /** Binary column → per-SAMPLED-FRAME perceptual signature: (doc_id,
    * frame_idx, ahash, flat, n_frames, decoded) — real container parse
    * ([[VideoCodec.decodeFrames]]), real pixel decode (ImageIO), every
    * `stride`-th frame hashed with the image leg's 8×8 aHash. A
    * malformed payload emits ONE flagged row (frame_idx −1, decoded
    * false) so quarantined counts stay queryable. One-to-many
    * mapPartitions keeps the expansion pipelined, the [[sampleFrames]]
    * posture with a real codec. */
  def videoFrameSignatures(binDf: DataFrame, idCol: String, binCol: String,
                           stride: Int = 1): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false),
      StructField("flat", BooleanType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("decoded", BooleanType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    binDf.select(col(idCol).cast("long"), col(binCol))
      .mapPartitions { it =>
        it.flatMap { r =>
          val id = r.getLong(0)
          VideoCodec.decodeFrames(r.getAs[Array[Byte]](1)) match {
            case None => Iterator.single(Row(id, -1L, 0L, false, 0L, false))
            case Some(frames) =>
              val n = frames.size.toLong
              (0 until frames.size by stride).iterator.map { f =>
                val img =
                  try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(frames(f)))
                  catch { case scala.util.control.NonFatal(_) => null }
                if (img == null) Row(id, f.toLong, 0L, false, n, false)
                else {
                  val luma = lumaGrid(img, 8, 8)
                  val mean = luma.sum / 64
                  var ah = 0L; var i = 0
                  while (i < 64) { if (luma(i) > mean) ah |= (1L << i); i += 1 }
                  Row(id, f.toLong, ah, (luma.max - luma.min) < FlatLumaRange, n, true)
                }
              }
          }
        }
      }(enc)
  }

  /** VIDEO near-dup pairs: candidates from a FRAME-ALIGNED band join —
    * the key is (frame_idx, 16-bit aHash band), so temporal structure is
    * part of the match and the per-frame banding stays pigeonhole-
    * lossless at hamming ≤ 3 — then per-pair verify: the fraction of
    * aligned sampled frames within `maxDist` must reach `minFrameFrac`
    * (re-encodes perturb a few frames a few bits; different material
    * misses almost every frame). Flat frames (solid color — every title
    * card hashes alike) are excluded from BOTH the candidate key and the
    * match/alignment counts, so two different clips sharing black lead-in
    * frames don't pair on the lead-in. The only shuffle is the band
    * equi-join; nothing is ever video×video. */
  def videoNearDupPairs(binDf: DataFrame, idCol: String, binCol: String,
                        stride: Int = 1, maxDist: Int = 3,
                        minFrameFrac: Double = 0.8): DataFrame = {
    require(maxDist <= 3, "4x16-bit banding is only lossless for hamming <= 3")
    val sig = videoFrameSignatures(binDf, idCol, binCol, stride)
      .filter(col("decoded") && !col("flat"))
      .select(col("doc_id").as("id"), col("frame_idx"), col("ahash"))
      .localCheckpoint(true) // feeds banding, per-video counts, and verify
    val perVideo = sig.groupBy(col("id")).agg(count(lit(1)).as("nf"))
    val banded = sig.select(col("id"), col("frame_idx"), col("ahash"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("band"),
            shiftright(col("ahash"), 16 * j).bitwiseAND(lit(65535L)).as("bval"))): _*)).as("x"))
      .select(col("id"), col("frame_idx"), col("ahash"),
        col("x.band").as("band"), col("x.bval").as("bval"))
    val a = banded.select(col("frame_idx"), col("band"), col("bval"),
      col("id").as("id_a"), col("ahash").as("ha"))
    val b = banded.select(col("frame_idx"), col("band"), col("bval"),
      col("id").as("id_b"), col("ahash").as("hb"))
    val frameMatches = a.join(b, Seq("frame_idx", "band", "bval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("frame_idx"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hd"))
      .distinct()
      .filter(col("hd") <= maxDist)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_match"), max(col("hd")).as("max_hamming"))
    frameMatches
      .join(perVideo.select(col("id").as("id_a"), col("nf").as("na")), "id_a")
      .join(perVideo.select(col("id").as("id_b"), col("nf").as("nb")), "id_b")
      .withColumn("frame_frac",
        col("n_match").cast("double") / greatest(col("na"), col("nb")))
      .filter(col("frame_frac") >= minFrameFrac)
      .select("id_a", "id_b", "n_match", "frame_frac", "max_hamming")
  }

  // ---------------------------------------------------------------------
  // OFFSET-TOLERANT frame matching (VERDICT r13 #2): candidates keyed by
  // (band, bval) ALONE + a per-pair relative-offset VOTE, so a trimmed or
  // ±k-frame-shifted copy still pairs — the frame-ALIGNED key of
  // [[videoNearDupPairs]] shares no key across any temporal offset.
  // ---------------------------------------------------------------------

  /** Frame-level band-candidate matches between two frame-signature
    * tables (id, frame_idx, fsig): 4×16-bit bands of each frame's
    * signature are the candidate key — WITHOUT frame_idx, so temporally
    * shifted copies still collide — verified per frame pair to
    * bit_count(xor) ≤ `maxDist` (pigeonhole-lossless per frame at ≤ 3).
    * Output: (id_a, id_b, fa, fb, hd) distinct. Candidate volume is
    * Σ_bucket |a_b|·|b_b| over 16-bit buckets — flat frames (the one
    * systematic collision mass: every title card hashes alike) must be
    * excluded by the CALLER, which keeps buckets populated by content,
    * not by degeneracy. `broadcastB` for reference-set-sized b sides
    * (the MediaIndex screen orientation: corpus never shuffles).
    *
    * SELF-JOIN volume guard (the maxFusedRows posture): without
    * frame_idx in the key, bucket sizes are set by the perceptual-hash
    * DISTRIBUTION, and natural-image aHash values cluster — a corpus of
    * near-identical footage can concentrate frames into few buckets and
    * push the candidate join toward frames². Before the self-join runs,
    * ONE aggregate over the banded rows bounds the candidate volume
    * (Σ bucket²); past `maxCandidateVolume` the operator fails LOUD
    * naming the remedies (raise `stride` so fewer frames are sampled, or
    * screen against a bounded reference set — the broadcast orientation,
    * which this guard exempts because its volume is |batch|·|ref| with
    * ref reference-set-sized) instead of shipping a silent quadratic. */
  private[graft] def frameBandMatches(aSig: DataFrame, bSig: DataFrame,
                                      maxDist: Int, requireLess: Boolean,
                                      broadcastB: Boolean,
                                      maxCandidateVolume: Long = 200000000L): DataFrame = {
    require(maxDist <= 3, "4x16-bit banding is only lossless for hamming <= 3")
    def banded(df: DataFrame) = df.select(col("id"), col("frame_idx"), col("fsig"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("band"),
            shiftright(col("fsig"), 16 * j).bitwiseAND(lit(65535L)).as("bval"))): _*)).as("x"))
      .select(col("id"), col("frame_idx"), col("fsig"),
        col("x.band").as("band"), col("x.bval").as("bval"))
    val a = banded(aSig).select(col("band"), col("bval"), col("id").as("id_a"),
      col("frame_idx").as("fa"), col("fsig").as("ha"))
    val b0 = banded(bSig).select(col("band"), col("bval"), col("id").as("id_b"),
      col("frame_idx").as("fb"), col("fsig").as("hb"))
    if (requireLess && !broadcastB) {
      val vol = a.groupBy("band", "bval").count()
        .agg(coalesce(sum(col("count") * col("count")), lit(0L))).head().getLong(0)
      require(vol <= maxCandidateVolume,
        s"frame near-dup candidate volume ~$vol (sum of band-bucket sizes squared) exceeds " +
          s"$maxCandidateVolume: the perceptual-hash distribution is concentrating frames " +
          "into few buckets and the offset-tolerant self-join would degenerate toward " +
          "frames^2 — raise `stride` to sample fewer frames, or screen against a bounded " +
          "reference set (MediaIndex.screenVideo broadcasts the reference side and its " +
          "volume is |batch|x|ref|), or raise maxCandidateVolume deliberately")
    }
    val b = if (broadcastB) broadcast(b0) else b0
    a.join(b, Seq("band", "bval"))
      .filter(if (requireLess) col("id_a") < col("id_b") else col("id_a").isNotNull)
      .select(col("id_a"), col("id_b"), col("fa"), col("fb"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hd"))
      .distinct()
      .filter(col("hd") <= maxDist)
  }

  /** The relative-offset VOTE over [[frameBandMatches]] output: per
    * (id_a, id_b) the MODAL frame delta (ties to the smallest delta —
    * deterministic cross-engine), granted when its matched-frame count
    * reaches `minFrameFrac` of the SHORTER side's frame count — `least`,
    * not `greatest`, so a TRIMMED copy (fewer frames, all matching at one
    * offset) still reaches the floor. `na`/`nb` carry each side's
    * non-degenerate frame counts as (id_a, na) / (id_b, nb). Output:
    * (id_a, id_b, n_match, frame_frac, frame_offset). */
  private[graft] def modalOffsetGrant(matches: DataFrame, na: DataFrame,
                                      nb: DataFrame, minFrameFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDelta = matches.withColumn("delta", col("fa") - col("fb"))
      .groupBy("id_a", "id_b", "delta").agg(count(lit(1)).as("n_match"))
    val w = Window.partitionBy("id_a", "id_b")
      .orderBy(col("n_match").desc, col("delta").asc)
    byDelta.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(na, "id_a").join(nb, "id_b")
      .withColumn("frame_frac",
        col("n_match").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("frame_frac") >= minFrameFrac)
      .select(col("id_a"), col("id_b"), col("n_match"), col("frame_frac"),
        col("delta").as("frame_offset"))
  }

  /** VIDEO near-dup pairs, OFFSET-TOLERANT (the production form; the
    * frame-aligned [[videoNearDupPairs]] remains the strict exact-copy
    * detector): a copy trimmed at the head or shifted by ±k frames shares
    * every (band, bval) key at one consistent frame delta, and the modal-
    * offset vote recovers that delta — where the aligned key would pair
    * NOTHING (VERDICT r13 #2). Flat frames stay excluded from candidates
    * and counts (the lead-in guard), and the frac denominator is the
    * SHORTER side, so trims don't dilute. */
  def videoNearDupPairsOffset(binDf: DataFrame, idCol: String, binCol: String,
                              stride: Int = 1, maxDist: Int = 3,
                              minFrameFrac: Double = 0.8,
                              maxCandidateVolume: Long = 200000000L): DataFrame = {
    val sig = videoFrameSignatures(binDf, idCol, binCol, stride)
      .filter(col("decoded") && !col("flat"))
      .select(col("doc_id").as("id"), col("frame_idx"), col("ahash").as("fsig"))
      .localCheckpoint(true) // feeds banding (both sides) + per-video counts
    val nf = sig.groupBy("id").agg(count(lit(1)).as("nf"))
    modalOffsetGrant(
      frameBandMatches(sig, sig, maxDist, requireLess = true, broadcastB = false,
        maxCandidateVolume = maxCandidateVolume),
      nf.select(col("id").as("id_a"), col("nf").as("na")),
      nf.select(col("id").as("id_b"), col("nf").as("nb")), minFrameFrac)
  }

  // ---------------------------------------------------------------------
  // STUB-SIGNATURE gate queries (VERDICT r13 #5): the real codecs cannot
  // replay in DuckDB, so the near-dup MACHINERY above joins the full-hash
  // correctness gate through signatures that are pure byte functions of
  // documents.text — the q_frame_sample recipe. The Scala path is the
  // SAME shared functions the real legs call; only the signature source
  // is swapped.
  // ---------------------------------------------------------------------

  /** [[hamming64BandPairs]] under the gate: the stub "perceptual hash" is
    * the corpus simhash (already bit-replayed by the q_dedup_simhash
    * oracle), flat = a popcount-degenerate signature, len = the payload's
    * byte length — so band join, hamming verify, and the flat+len guard
    * all hash-match DuckDB at every SF. */
  val qMediaNeardup: Q = Q("q_media_neardup", mediaNeardupOracleSql) { (s, d) =>
    val docs = T.documents(s, d)
    val sig = Dedup.simhashes(docs, "doc_id", "text")
      .join(docs.select(col("doc_id").as("id"),
        octet_length(col("text")).cast("long").as("len")), Seq("id"))
      .select(col("id"), col("simhash").as("fp"),
        (bit_count(col("simhash")) < 4 || bit_count(col("simhash")) > 60).as("flat"),
        col("len"))
    hamming64BandPairs(sig, 3).orderBy("id_a", "id_b")
  }

  /** [[frameBandMatches]] + [[modalOffsetGrant]] under the gate: stub
    * "frames" are the document's consecutive 32-char windows, each
    * signatured by xxhash64 (byte-replayed by OracleKit), single-repeated-
    * char windows playing the flat-frame role — so the offset-tolerant
    * candidate join, the modal-delta vote, the least-side frac, and the
    * tie-break all hash-match DuckDB at every SF. */
  val qMediaFrames: Q = Q("q_media_frames", mediaFramesOracleSql) { (s, d) =>
    val sig = T.documents(s, d)
      .select(col("doc_id").as("id"), col("text"))
      .withColumn("nf0", floor(length(col("text")) / 32).cast("long"))
      .filter(col("nf0") >= 1)
      .select(col("id"), col("text"),
        explode(sequence(lit(0L), col("nf0") - 1)).as("frame_idx"))
      .withColumn("ck", expr("substring(text, CAST(32 * frame_idx + 1 AS INT), 32)"))
      .filter(expr("length(replace(ck, substring(ck, 1, 1), '')) != 0"))
      .select(col("id"), col("frame_idx"), xxhash64(col("ck")).as("fsig"))
      .localCheckpoint(true) // feeds banding (both sides) + per-doc counts
    val nf = sig.groupBy("id").agg(count(lit(1)).as("nf"))
    modalOffsetGrant(
      frameBandMatches(sig, sig, 3, requireLess = true, broadcastB = false),
      nf.select(col("id").as("id_a"), col("nf").as("na")),
      nf.select(col("id").as("id_b"), col("nf").as("nb")), 0.5)
      .orderBy("id_a", "id_b")
  }

  private def mediaNeardupOracleSql: String =
    s"""WITH ${Dedup.simhashSigCtes},
       |  sig AS (SELECT s.doc_id AS id, s.shu,
       |      (bit_count(s.shu) < 4 OR bit_count(s.shu) > 60) AS flat,
       |      octet_length(encode(d.text)) AS len
       |    FROM sim s JOIN documents d ON d.doc_id = s.doc_id),
       |  bnd AS (SELECT id, shu, flat, len, band, (shu >> (16 * band)::INT) & 65535 AS bval
       |    FROM (SELECT *, unnest(range(0, 4))::INT AS band FROM sig)),
       |  cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |      bit_count(xor(a.shu, b.shu))::BIGINT AS hamming,
       |      (a.flat AND b.flat) AS both_flat, (a.len = b.len) AS same_len
       |    FROM bnd a JOIN bnd b ON a.band = b.band AND a.bval = b.bval AND a.id < b.id)
       |SELECT id_a, id_b, hamming FROM cand
       |WHERE hamming <= 3 AND (NOT both_flat OR same_len)
       |ORDER BY id_a, id_b""".stripMargin

  private def mediaFramesOracleSql: String = {
    val hx = graft.ops.OracleKit.nestedProjections(
      "SELECT id, frame_idx, ck FROM nonflat",
      graft.ops.OracleKit.xxhash64StrSteps("ck"), "id, frame_idx, hu")
    s"""WITH chunks0 AS (SELECT doc_id AS id, f AS frame_idx,
       |    substr(text, (32 * f + 1)::INT, 32) AS ck
       |  FROM documents, unnest(range(0, len(text) // 32)) AS t(f)),
       |nonflat AS (SELECT * FROM chunks0 WHERE len(replace(ck, substr(ck, 1, 1), '')) <> 0),
       |hx AS MATERIALIZED ($hx),
       |nf AS (SELECT id, COUNT(*)::BIGINT AS n FROM hx GROUP BY 1),
       |bnd AS (SELECT id, frame_idx, hu, band, (hu >> (16 * band)::INT) & 65535 AS bval
       |  FROM (SELECT *, unnest(range(0, 4))::INT AS band FROM hx)),
       |fm AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.frame_idx AS fa, b.frame_idx AS fb,
       |    bit_count(xor(a.hu, b.hu))::BIGINT AS hd
       |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bval = b.bval AND a.id < b.id),
       |dm AS (SELECT id_a, id_b, fa - fb AS delta, COUNT(*)::BIGINT AS n_match
       |  FROM fm WHERE hd <= 3 GROUP BY 1, 2, 3),
       |pick AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b
       |    ORDER BY n_match DESC, delta ASC) AS rn FROM dm),
       |outp AS (SELECT p.id_a, p.id_b, p.n_match,
       |    CAST(p.n_match AS DOUBLE) / CAST(LEAST(na.n, nb.n) AS DOUBLE) AS frame_frac,
       |    p.delta AS frame_offset
       |  FROM pick p JOIN nf na ON na.id = p.id_a JOIN nf nb ON nb.id = p.id_b
       |  WHERE p.rn = 1)
       |SELECT id_a, id_b, n_match, frame_frac, frame_offset FROM outp
       |WHERE frame_frac >= 0.5 ORDER BY id_a, id_b""".stripMargin
  }

  val all: Seq[Q] = Seq(qMultimodalFeatures, qFrameSample, qModalityBatch,
    qMediaNeardup, qMediaFrames)
}
