package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.func.Materialize.MatOps

/** Multimodal-column plumbing: media payloads as opaque `binary`
  * columns with typed metadata, and a per-partition "decode" stage.
  *
  * The container ships no image/audio codecs, so `decodeStub` is a
  * clearly-marked deterministic FAKE decoder (md5-derived dimensions);
  * everything around it — the binary column, the typed record schema,
  * the `mapPartitions` batch shape, the partitioning — is the real
  * production plumbing. Swapping `decodeStub` for a JNI/codec call is
  * the only change needed for real media.
  *
  * Scale notes: `mapPartitions` keeps per-partition setup (a real
  * decoder's native context) amortized across the batch, exactly like
  * a Pandas-UDF `mapInPandas` stage; the stage is narrow (no shuffle),
  * so media decode parallelizes with input splits at 100 TB.
  */
object Multimodal {
  /** Opaque media blob + metadata, pre-decode. */
  case class MediaRecord(doc_id: Long, format: String, blob: Array[Byte])

  /** Post-decode metadata row. */
  case class MediaMeta(doc_id: Long, format: String, n_bytes: Long,
    width: Int, height: Int, channels: Int, frames: Int)

  private val Formats = Seq("png", "jpeg", "wav")

  /** Binary-column media table synthesized from `documents` (the text
    * bytes stand in for an encoded media payload). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      element_at(
        array(Formats.map(lit): _*), (col("doc_id") % 3 + 1).cast("int"))
        .as("format"),
      // NULL text → ZERO-byte payload, not a NULL blob: every typed
      // stage downstream (decodeStub's digest, blob.length, phash's
      // cell sampler) reads the array unconditionally, and a null
      // payload row is routine ingest damage at scale (DegenerateSpec;
      // the tokensOf(null) precedent)
      coalesce(encode(col("text"), "UTF-8"),
        lit(Array.emptyByteArray)).as("blob"))

  /** FAKE DECODER (deterministic stub): derives media dimensions from
    * the payload's md5 — stands in for an image/audio decode the
    * container cannot run. Real integration point: replace the body
    * with the codec call; the signature and batch shape stay. */
  def decodeStub(format: String, blob: Array[Byte]): (Int, Int, Int, Int) = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(blob)
    def b(i: Int): Int = d(i) & 0xff
    val width = 16 + b(0) % 64
    val height = 16 + b(1) % 64
    val channels = 1 + b(2) % 4
    val frames = if (format == "wav") 1 + b(3) % 30 else 1
    (width, height, channels, frames)
  }

  /** Decode stage: typed Dataset → mapPartitions → typed Dataset.
    * One decoder "context" per partition (the `digest` instance here,
    * a native handle in real life). */
  def decoded(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord].mapPartitions { it =>
      it.map { r =>
        val (w, h, c, f) = decodeStub(r.format, r.blob)
        MediaMeta(r.doc_id, r.format, r.blob.length.toLong, w, h, c, f)
      }
    }
  }

  /** Oracle-checkable metadata projection of the decode stage. */
  def metaQuery(spark: SparkSession, dir: String): DataFrame =
    decoded(spark, dir).toDF()

  // -------------------------------------------------------------------
  // Downstream media stages: resize, frame-sample, feature-extract.
  // Same contract as the decode stage — the pixel/sample math is a
  // deterministic stand-in (no codecs in the container), but the stage
  // SHAPES are the production ones: typed record in, typed record out,
  // narrow mapPartitions with per-partition context, one row per
  // sampled frame out of the explode. All arithmetic is integer and
  // replayed exactly by the DuckDB oracle.
  // -------------------------------------------------------------------

  /** Longest side of the thumbnail box. */
  val ThumbSide = 32
  /** Every FrameStride-th frame is sampled from multi-frame media. */
  val FrameStride = 5

  /** Post-resize row: box-fitted dims + the REAL sampled payload's
    * length and checksum (proof the downsample actually ran). */
  case class MediaThumb(doc_id: Long, width: Int, height: Int,
    t_width: Int, t_height: Int, thumb_len: Long, thumb_sum: Long)

  /** Resize stage: fit the longest side to [[ThumbSide]] preserving
    * aspect (integer arithmetic, min 1 px), then nearest-neighbor
    * sample t_width·t_height payload bytes at idx_j = j·n/L. A real
    * resizer replaces the sampling body; dims/len/sum stay checkable. */
  def resized(spark: SparkSession, dir: String): Dataset[MediaThumb] = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord].mapPartitions { it =>
      it.map { r =>
        val (w, h, _, _) = decodeStub(r.format, r.blob)
        val long = math.max(w, h)
        val tw = math.max(1, w * ThumbSide / long)
        val th = math.max(1, h * ThumbSide / long)
        val n = r.blob.length
        val l = tw * th
        var sum = 0L
        var j = 0
        // a ZERO-byte payload has nothing to sample — thumb_sum 0
        // (dims still come from the decode stub; DegenerateSpec)
        while (n > 0 && j < l) {
          sum += r.blob((j.toLong * n / l).toInt) & 0xff
          j += 1
        }
        MediaThumb(r.doc_id, w, h, tw, th, l.toLong, sum)
      }
    }
  }

  def resizeQuery(spark: SparkSession, dir: String): DataFrame =
    resized(spark, dir).toDF()

  val resizeOracle: String = {
    def byteSql(i: Int): String =
      s"((instr('0123456789abcdef', m[${2 * i + 1}]) - 1) * 16 + instr('0123456789abcdef', m[${2 * i + 2}]) - 1)"
    // the sampled payload is the UTF-8 BYTE sequence (blob =
    // encode(text)); sampling `ord(substr(text, ...))` read CODEPOINT
    // values at CODEPOINT indices instead — identical on ASCII, wrong
    // the moment a multi-byte char appears (r13 unicode corpus). The
    // byte at index j is read out of lower(hex(encode(text))).
    s"""WITH t AS (SELECT doc_id, text, strlen(text) AS n, md5(text) AS m,
       |             lower(hex(encode(text))) AS hx,
       |             ['png','jpeg','wav'][CAST(doc_id % 3 + 1 AS INTEGER)] AS format
       |           FROM documents),
       |dim AS (SELECT doc_id, text, n, hx,
       |          16 + ${byteSql(0)} % 64 AS w, 16 + ${byteSql(1)} % 64 AS h
       |        FROM t),
       |fit AS (SELECT doc_id, text, n, hx, w, h,
       |          greatest(1, w * $ThumbSide // greatest(w, h)) AS tw,
       |          greatest(1, h * $ThumbSide // greatest(w, h)) AS th
       |        FROM dim)
       |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |       CAST(tw AS INTEGER) AS t_width, CAST(th AS INTEGER) AS t_height,
       |       CAST(tw * th AS BIGINT) AS thumb_len,
       |       CAST(CASE WHEN n = 0 THEN 0 ELSE
       |         (SELECT sum(
       |            (instr('0123456789abcdef', substr(hx, 2 * CAST(j * n // (tw * th) AS INTEGER) + 1, 1)) - 1) * 16
       |            + instr('0123456789abcdef', substr(hx, 2 * CAST(j * n // (tw * th) AS INTEGER) + 2, 1)) - 1)
       |          FROM unnest(range(0, tw * th)) u(j)) END AS BIGINT) AS thumb_sum
       |FROM fit""".stripMargin
  }

  /** Frame-sample stage: one row per sampled frame (every
    * [[FrameStride]]-th), the video/audio analog of the displays[]
    * explode — a real frame extractor replaces the index arithmetic. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decoded(spark, dir)
      .flatMap(m => (0 until m.frames by FrameStride)
        .map(i => (m.doc_id, m.format, m.frames, i)))
      .toDF("doc_id", "format", "n_frames", "frame_idx")
  }

  val frameSampleOracle: String = {
    def byteSql(i: Int): String =
      s"((instr('0123456789abcdef', m[${2 * i + 1}]) - 1) * 16 + instr('0123456789abcdef', m[${2 * i + 2}]) - 1)"
    s"""WITH t AS (SELECT doc_id, md5(text) AS m,
       |             ['png','jpeg','wav'][CAST(doc_id % 3 + 1 AS INTEGER)] AS format
       |           FROM documents),
       |fr AS (SELECT doc_id, format,
       |         CASE WHEN format = 'wav' THEN 1 + ${byteSql(3)} % 30 ELSE 1 END AS n_frames
       |       FROM t)
       |SELECT doc_id, format, CAST(n_frames AS INTEGER) AS n_frames,
       |       CAST(u.frame_idx AS INTEGER) AS frame_idx
       |FROM fr, LATERAL (SELECT unnest(range(0, n_frames, $FrameStride)) AS frame_idx) u""".stripMargin
  }

  /** Feature-extract stage: a fixed-width integer feature vector per
    * record (md5-derived stand-in for an embedding model's output,
    * emitted as 8 scalar columns — the schema a feature store would
    * ingest). Per-partition digest context = the model handle. */
  def features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        md.reset()
        val d = md.digest(r.blob)
        (r.doc_id, d(4) & 0xff, d(5) & 0xff, d(6) & 0xff, d(7) & 0xff,
          d(8) & 0xff, d(9) & 0xff, d(10) & 0xff, d(11) & 0xff)
      }
    }.toDF("doc_id", "f0", "f1", "f2", "f3", "f4", "f5", "f6", "f7")
  }

  /** The oracle replays the stub's md5 arithmetic on the text bytes
    * (hex-nibble pairs = digest bytes; ASCII text ⇒ blob == text). */
  val featuresOracle: String = {
    def byteSql(i: Int): String =
      s"((instr('0123456789abcdef', m[${2 * i + 1}]) - 1) * 16 + instr('0123456789abcdef', m[${2 * i + 2}]) - 1)"
    val cols = (0 until 8)
      .map(k => s"CAST(${byteSql(k + 4)} AS INTEGER) AS f$k").mkString(", ")
    s"""SELECT doc_id, $cols
       |FROM (SELECT doc_id, md5(text) AS m FROM documents)""".stripMargin
  }

  /** aHash cells (bits of the perceptual hash). */
  val PhCells = 32
  /** Band layout over the 32-bit hash: 4 bands × 8 bits — pairs with
    * hamming ≤ [[PhMaxHamming]] = 3 share ≥ 1 intact band. */
  val PhBands = 4
  /** Reported pairs must be within this hamming distance (exact,
    * verified on the full hash after band blocking). */
  val PhMaxHamming = 3

  /** Perceptual-hash near-duplicates over the BINARY payload — the
    * modality-agnostic average-hash (aHash) device: sample
    * [[PhCells]] evenly-spaced payload bytes, set bit k when cell k
    * exceeds the cell mean (32·c_k > Σc — no division), then find
    * close pairs with the SimHash band machinery and verify exact
    * hamming ≤ [[PhMaxHamming]]. On real media the cells would be
    * decoded luma averages (the decodeStub swap point); the banding,
    * verify, and scale shape are identical.
    *
    * Spark side computes the hash in a typed partition loop — the
    * 32-cell × 33-term expression form is janino-hostile (the
    * signBits lesson, Similarity.scala:854); the oracle evaluates
    * the identical integer arithmetic over the same UTF-8 bytes, read
    * out of lower(hex(encode(text))) so multi-byte chars sample
    * identically in both engines (r13).
    *
    * Scale shape (100 TB of media): hash = narrow scan; band join
    * buckets candidates (never all-pairs); verify carries two
    * BIGINTs per pair. */
  def phashDups(spark: SparkSession, dir: String): DataFrame =
    phashDupsOf(mediaTable(spark, dir))

  /** [[phashDups]] over any (doc_id, format, blob) frame. */
  def phashDupsOf(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    val ph = media.select(col("doc_id"), col("format"), col("blob"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, _, b) =>
        if (b.isEmpty) (id, -1L)
        else {
          // k.toLong: Int k*length overflows past ~69 MB payloads
          // (the resized() guard convention)
          val cells = Array.tabulate(PhCells)(k =>
            (b((k.toLong * b.length / PhCells).toInt) & 0xff).toLong)
          val s = cells.sum
          var h = 0L
          var k = 0
          while (k < PhCells) {
            if (PhCells * cells(k) > s) h |= 1L << k
            k += 1
          }
          (id, h)
        }
      })
      .toDF("doc_id", "ph")
      .filter(col("ph") =!= -1L) // empty payloads carry no hash
      .matLazily // feeds the band join twice + the verify
    val bandW = 32 / PhBands
    val bands = ph.select(col("doc_id"), col("ph"),
      posexplode(array((0 until PhBands).map(j =>
        shiftright(col("ph"), bandW * j).bitwiseAND((1 << bandW) - 1)): _*))
        .as(Seq("band", "v")))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.ph").as("pa"), col("b.ph").as("pb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(pa ^ pb) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= PhMaxHamming)
  }

  lazy val phashDupsOracle: String = {
    // cell k = the UTF-8 BYTE at index (k·ln)//cells, read from
    // lower(hex(encode(text))) — `unicode(substr(text, ...))` was the
    // CODEPOINT at a codepoint index, which only coincides on ASCII
    // (r13 unicode corpus; same fix as resizeOracle)
    def cell(k: Int): String =
      s"CAST((instr('0123456789abcdef', substr(hx, " +
        s"2 * CAST(($k * ln) // $PhCells AS INTEGER) + 1, 1)) - 1) * 16" +
        s" + instr('0123456789abcdef', substr(hx, " +
        s"2 * CAST(($k * ln) // $PhCells AS INTEGER) + 2, 1)) - 1 AS BIGINT)"
    val csum = (0 until PhCells).map(cell).mkString("(", " + ", ")")
    val phash = (0 until PhCells).map(k =>
      s"(CASE WHEN $PhCells * ${cell(k)} > $csum THEN ${1L << k} ELSE 0 END)")
      .mkString("(", " + ", ")")
    val bandW = 32 / PhBands
    s"""WITH t AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
       |             strlen(text) AS ln
       |           FROM documents WHERE strlen(text) > 0),
       |p AS MATERIALIZED (SELECT doc_id, $phash AS ph FROM t),
       |bands AS (SELECT doc_id, ph, j,
       |                 (ph >> ($bandW * j)) & ${(1 << bandW) - 1} AS v
       |          FROM p, (SELECT unnest(range(0, $PhBands)) AS j)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.ph AS pa, b.ph AS pb
       |         FROM bands a JOIN bands b
       |           ON a.j = b.j AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(pa, pb)) <= $PhMaxHamming""".stripMargin
  }

  val metaOracle: String = {
    def byteSql(i: Int): String =
      s"((instr('0123456789abcdef', m[${2 * i + 1}]) - 1) * 16 + instr('0123456789abcdef', m[${2 * i + 2}]) - 1)"
    s"""WITH t AS (SELECT doc_id,
       |             ['png','jpeg','wav'][CAST(doc_id % 3 + 1 AS INTEGER)] AS format,
       |             strlen(text) AS n_bytes, md5(text) AS m
       |           FROM documents)
       |SELECT doc_id, format, CAST(n_bytes AS BIGINT) AS n_bytes,
       |       CAST(16 + ${byteSql(0)} % 64 AS INTEGER) AS width,
       |       CAST(16 + ${byteSql(1)} % 64 AS INTEGER) AS height,
       |       CAST(1 + ${byteSql(2)} % 4 AS INTEGER) AS channels,
       |       CAST(CASE WHEN format = 'wav' THEN 1 + ${byteSql(3)} % 30 ELSE 1 END AS INTEGER) AS frames
       |FROM t""".stripMargin
  }
}
