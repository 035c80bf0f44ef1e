package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Typed media payload: opaque bytes + structured metadata. */
final case class MediaMeta(mime: String, n_bytes: Long, width: Int, height: Int)
final case class MediaRecord(doc_id: Long, payload: Array[Byte], meta: MediaMeta)

/** Deterministic per-record features produced by the (stubbed) decoder. */
final case class MediaFeatures(doc_id: Long, n_bytes: Long, entropy_milli: Long,
                               head_histogram: Seq[Long], thumb_n_bytes: Long)

/** One sampled frame of a decoded media stream (m4). */
final case class FrameRow(doc_id: Long, frame_idx: Int, frame_offset: Int,
                          frame_n_chars: Int, frame_sig: String)

/** Multimodal-column plumbing: image/audio/video modeled as opaque
  * `binary` payloads with a typed metadata struct, plus a batched
  * decode / feature-extract / resize pass over `mapPartitions`.
  *
  * The actual media decode is STUBBED (this environment has no
  * image/audio codecs): [[FakeCodec]] derives deterministic bytes and
  * features from the payload itself. Everything around the stub — the
  * schema (binary + struct), the typed Dataset encoders, the batched
  * partition iteration shape (decode wants vectorized batches, so the
  * iterator is `grouped(batchSize)`), and the metadata pruning — is the
  * real Spark plumbing a production decoder would drop into.
  */
object MultimodalOps {

  /** STUB decoder — stands in for libjpeg/ffmpeg-style native decode.
    * Deterministic pure function of the payload bytes. */
  object FakeCodec {
    def decode(payload: Array[Byte]): Array[Long] = {
      val hist = new Array[Long](256)
      payload.foreach(b => hist(b & 0xff) += 1)
      hist
    }

    /** Integer-exact entropy proxy: sum of c*(n-c) scaled — avoids
      * floating logs so tests are exact. */
    def entropyMilli(hist: Array[Long], n: Long): Long =
      if (n == 0) 0L
      else hist.map(c => c * (n - c)).sum * 1000 / (n * n)

    /** "Resize": keep every 4th byte (frame-sample/thumbnail stand-in). */
    def thumbnail(payload: Array[Byte]): Array[Byte] =
      payload.grouped(4).map(_.head).toArray

    /** Frame fingerprint: md5 hex of the frame's UTF-8 bytes — matches
      * both Spark's and DuckDB's `md5(varchar)`. */
    def frameSig(frame: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(frame.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
  }

  /** Wrap each document as a media record: payload = UTF-8 bytes standing
    * in for encoded media; metadata derived deterministically. */
  def buildMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id", $"text", $"n_chars")
      .as[(Long, String, Long)]
      .map { case (id, text, n) =>
        val payload = text.getBytes("UTF-8")
        val mime = if (n % 3 == 0) "image/fake" else if (n % 3 == 1) "audio/fake" else "video/fake"
        MediaRecord(id, payload, MediaMeta(mime, payload.length.toLong,
          width = (n % 640).toInt + 16, height = (n % 480).toInt + 16))
      }
  }

  /** Batched decode + feature extraction over mapPartitions: the iterator
    * is consumed in `batchSize` groups, mirroring how a vectorized decoder
    * (or an Arrow-batched UDF) would be fed, without materializing the
    * partition. */
  def extractFeatures(media: Dataset[MediaRecord],
                      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // a real codec would decode the whole batch in one native call
        batch.iterator.map { rec =>
          val hist = FakeCodec.decode(rec.payload)
          val n = rec.payload.length.toLong
          MediaFeatures(
            rec.doc_id, n,
            FakeCodec.entropyMilli(hist, n),
            hist.take(8).toSeq,
            FakeCodec.thumbnail(rec.payload).length.toLong)
        }
      }
    }
  }

  // ---------------------------------------------------------------- m1
  /** Oracle-checked metadata surface: binary payload length, content
    * hash, and mime bucketing — all computable by DuckDB over the same
    * bytes. */
  def m1MultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id", $"text".cast("binary").as("payload"), $"n_chars")
      .select(
        $"doc_id",
        length($"payload").as("n_bytes"),
        sha2($"payload", 256).as("sha256_hex"),
        when($"n_chars" % 3 === 0, "image/fake")
          .when($"n_chars" % 3 === 1, "audio/fake")
          .otherwise("video/fake").as("mime"))
      .orderBy($"doc_id")
  }

  val m1MultimodalMetaSql: String =
    """SELECT doc_id,
      |  octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  sha256(text) AS sha256_hex,
      |  CASE WHEN n_chars % 3 = 0 THEN 'image/fake'
      |       WHEN n_chars % 3 = 1 THEN 'audio/fake'
      |       ELSE 'video/fake' END AS mime
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m2
  /** The full decode pipeline as a query, DuckDB-oracle-checked: the
    * synthetic payload is a trivially decodable format (an identity
    * codec — the decoded samples ARE the payload bytes), so every
    * feature the decoder emits is re-derivable by SQL byte arithmetic:
    * the oracle expands each payload to its byte histogram via
    * hex-string slicing (two hex chars = one decoded sample) and
    * recomputes the integer-exact entropy proxy and the every-4th-byte
    * thumbnail length. The Spark side still runs the REAL plumbing — a
    * batched `mapPartitions` decode over typed Datasets, exactly where
    * libjpeg/ffmpeg would sit; what changed vs the earlier rows-only
    * check is only that the stub format is now simple enough for a
    * second engine to decode independently. */
  def m2MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(buildMedia(spark, dir))
      .toDF()
      .select($"doc_id", $"n_bytes", $"entropy_milli", $"thumb_n_bytes")
      .orderBy($"doc_id")
  }

  /** Oracle: decode = identity, so the byte histogram comes from
    * hex(blob) sliced two chars at a time, and the entropy proxy is the
    * same integer formula the codec computes
    * (Σ c·(n−c) · 1000 div n²). */
  val m2MediaFeaturesSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    hex(CAST(text AS BLOB)) AS hx,
      |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
      |  FROM documents),
      |hist AS (
      |  SELECT doc_id, n, byte, COUNT(*) AS c FROM (
      |    SELECT doc_id, n,
      |      substr(hx, CAST(2 * i + 1 AS INT), 2) AS byte
      |    FROM b, UNNEST(generate_series(0, CAST(n - 1 AS BIGINT))) AS u(i))
      |  GROUP BY doc_id, n, byte),
      |ent AS (
      |  SELECT doc_id, SUM(c * (n - c)) * 1000 // (n * n) AS entropy_milli
      |  FROM hist GROUP BY doc_id, n)
      |SELECT b.doc_id, b.n AS n_bytes,
      |  CAST(COALESCE(e.entropy_milli, 0) AS BIGINT) AS entropy_milli,
      |  CAST(CEIL(b.n / 4.0) AS BIGINT) AS thumb_n_bytes
      |FROM b LEFT JOIN ent e USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m3
  /** The SQL-expressible slice of the decode pipeline, oracle-checked:
    * the SAME `mapPartitions` batched-decode path as m2 (not a SQL
    * shortcut), but projecting only the columns DuckDB can recompute
    * from the payload bytes — `n_bytes` = octet_length, `thumb_n_bytes`
    * = ceil(n/4) (the every-4th-byte thumbnail). This pins the Dataset
    * plumbing (encoders, batching, schema) to an exact cross-engine
    * check; only the entropy/histogram features, which need the codec
    * itself, stay rows-only in m2. */
  def m3MediaBytes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(buildMedia(spark, dir))
      .toDF()
      .select($"doc_id", $"n_bytes", $"thumb_n_bytes")
      .orderBy($"doc_id")
  }

  val m3MediaBytesSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
      |  CAST(CEIL(octet_length(CAST(text AS BLOB)) / 4.0) AS BIGINT) AS thumb_n_bytes
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m4
  /** Frame sampling: explode each decoded media stream into every-4th
    * fixed-size frame (16 chars/frame ⇒ one sampled frame per 64-char
    * stride), as a typed `flatMap` — the one-row-in/many-rows-out shape
    * of video frame extraction, with the decode inside the same typed
    * Dataset path as m2/m3. Each frame rides as offset + length + md5
    * fingerprint, never raw frame bytes, so output width is fixed.
    *
    * Oracle note: frames are CHARACTER-defined (DuckDB cannot slice or
    * md5 BLOBs), and Scala indexes UTF-16 units where DuckDB counts code
    * points — identical for this corpus (Latin + BMP CJK, no surrogate
    * pairs); a production byte-level framer would live behind the codec
    * like entropy does. */
  def m4FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frameChars = 16
    val stride = frameChars * 4   // sample every 4th frame
    buildMedia(spark, dir).flatMap { rec =>
      val s = new String(rec.payload, "UTF-8")
      (0 to math.max(s.length - 1, 0) by stride).iterator.map { off =>
        val frame = s.substring(off, math.min(off + frameChars, s.length))
        FrameRow(rec.doc_id, off / stride, off, frame.length,
          FakeCodec.frameSig(frame))
      }
    }.toDF().orderBy($"doc_id", $"frame_idx")
  }

  val m4FrameSampleSql: String =
    """SELECT doc_id,
      |  CAST(off // 64 AS INT) AS frame_idx,
      |  CAST(off AS INT) AS frame_offset,
      |  CAST(length(substr(text, CAST(off + 1 AS INT), 16)) AS INT)
      |    AS frame_n_chars,
      |  md5(substr(text, CAST(off + 1 AS INT), 16)) AS frame_sig
      |FROM documents,
      |  UNNEST(generate_series(0, greatest(length(text) - 1, 0), 64)) AS u(off)
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- m5
  /** Media near-dup via frame-fingerprint overlap — the production video/
    * audio dedup shape: two streams are near-dups when the Jaccard of
    * their sampled-frame signature SETS clears a threshold (500‰ here).
    * Candidate generation is a self-join on the frame signature (only
    * streams sharing at least one sampled frame are ever paired — d3's
    * shared-gram discipline applied to media), never all-pairs; the
    * frames come from m4's typed decode path, so the whole pipeline —
    * codec, sampling, fingerprint, dedup — is the composition a real
    * media pipeline runs.
    *
    * Scale shape: frame sigs are fixed-width md5 hex (raw frames never
    * ride the shuffle); the per-doc signature-set sizes and the pair
    * intersection are two hash aggregates; the final Jaccard is computed
    * on the (i, j, shared) frame, metadata-sized. A boilerplate frame
    * shared by everything (station idents, color bars) gets d11's
    * df-cap BY DEFAULT: sigs in more than [[M5DfCap]] streams are
    * dropped before the self-join (one extra hash-agg computing the
    * Zipf-tiny hot set, broadcast into a left-anti probe), and the
    * per-stream set sizes run over surviving sigs only — the candidate
    * join stays linear in true collisions no matter how common the
    * test pattern. The sig frame is distinct (doc_id, sig), so the
    * per-sig count IS the distinct stream frequency. */
  private val M5DfCap = 5
  /** The distinct (doc_id, frame_sig) stream m5 consumes three times. */
  private def m5Sigs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    m4FrameSample(spark, dir).select($"doc_id", $"frame_sig").distinct()
  }

  /** m5's pair pipeline over a given sig frame. */
  private[graft] def m5PairsFrom(rawSigs: DataFrame,
                                 dfCap: Int = M5DfCap): DataFrame = {
    import rawSigs.sparkSession.implicits._
    val hot = rawSigs.groupBy($"frame_sig").agg(count(lit(1)).as("df"))
      .filter($"df" > dfCap).select($"frame_sig")
    val sigs = rawSigs.join(broadcast(hot), Seq("frame_sig"), "left_anti")
    val counts = sigs.groupBy($"doc_id").agg(count(lit(1)).as("n_sigs"))
    sigs.as("a")
      .join(sigs.hint("shuffle_hash").as("b"),
        $"a.frame_sig" === $"b.frame_sig" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .agg(count(lit(1)).as("shared"))
      .join(counts.withColumnRenamed("doc_id", "i")
        .withColumnRenamed("n_sigs", "ni"), Seq("i"))
      .join(counts.withColumnRenamed("doc_id", "j")
        .withColumnRenamed("n_sigs", "nj"), Seq("j"))
      .withColumn("jac_permille",
        floor(lit(1000.0) * $"shared" / ($"ni" + $"nj" - $"shared"))
          .cast("long"))
      .filter($"jac_permille" >= 500)
      .select($"i", $"j", $"shared", $"jac_permille")
      .orderBy($"i", $"j")
  }

  /** The plan as planned, for guards and inspection. */
  private[graft] def m5Plan(spark: SparkSession, dir: String): DataFrame =
    m5PairsFrom(m5Sigs(spark, dir))

  /** The sig stream has three consumers (both self-join sides + the
    * per-doc set sizes), but NO explicit persist: the distinct ends in a
    * shuffle exchange, and ReuseExchange dedupes that identical subtree
    * across all three consumers — the decode pass runs once. Forcing a
    * persist + checkpoint here was measured 3× SLOWER at sf0.1 (0.6 s →
    * 1.9 s): it trades free in-plan reuse for cache materialization.
    * (s3/s4 persist their subtrees because those feed SEPARATE driver
    * actions, which exchange reuse cannot span; one plan ≠ one job
    * there. m5 is a single plan.) */
  def m5MediaDedup(spark: SparkSession, dir: String): DataFrame =
    m5Plan(spark, dir)

  val m5MediaDedupSql: String =
    s"""WITH f AS (
      |  SELECT DISTINCT doc_id,
      |    md5(substr(text, CAST(off + 1 AS INT), 16)) AS sig
      |  FROM documents,
      |    UNNEST(generate_series(0, greatest(length(text) - 1, 0), 64)) AS u(off)),
      |hot AS (SELECT sig FROM f GROUP BY sig HAVING COUNT(*) > $M5DfCap),
      |k AS (SELECT doc_id, sig FROM f WHERE sig NOT IN (SELECT sig FROM hot)),
      |n AS (SELECT doc_id, COUNT(*) AS n_sigs FROM k GROUP BY doc_id),
      |p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
      |  FROM k a JOIN k b ON a.sig = b.sig AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i, j, shared,
      |  CAST(FLOOR(1000.0 * shared / (na.n_sigs + nb.n_sigs - shared)) AS BIGINT)
      |    AS jac_permille
      |FROM p JOIN n na ON p.i = na.doc_id JOIN n nb ON p.j = nb.doc_id
      |WHERE CAST(FLOOR(1000.0 * shared / (na.n_sigs + nb.n_sigs - shared)) AS BIGINT) >= 500
      |ORDER BY i, j""".stripMargin

  // ---------------------------------------------------------------- m6
  /** Cross-modal consistency audit: which media near-dup pairs carry
    * DIFFERENT text? A multimodal training pair (image/video + caption)
    * whose media duplicates another's while its caption does not is the
    * canonical curation hazard — same asset relabeled, scraped twice
    * with different alt text, or a caption-swap corruption. m5's frame-
    * signature pairs compose with a full-text fingerprint join to flag
    * exactly those (SemDeDup-style pipelines run this audit between
    * modality-specific dedups; the reference has no media surface at
    * all, SURVEY.md §2.2).
    *
    * Scale shape: m5's capped sig join does the heavy lifting; the text
    * fingerprints ride in through two joins on doc_id against the
    * (metadata-sized) pair list — the big documents table is never
    * joined against itself. Fingerprints are md5 of the full text
    * (t4's discipline), so "differs" is exact, not fuzzy. */
  def m6ModalMismatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = Tables(spark, dir, "documents")
      .select($"doc_id", md5($"text".cast("binary")).as("fp"))
    m5Plan(spark, dir)
      .join(fp.withColumnRenamed("doc_id", "i").withColumnRenamed("fp", "fi"),
        Seq("i"))
      .join(fp.withColumnRenamed("doc_id", "j").withColumnRenamed("fp", "fj"),
        Seq("j"))
      .select($"i", $"j", $"jac_permille",
        ($"fi" =!= $"fj").as("text_differs"))
      .orderBy($"i", $"j")
  }

  val m6ModalMismatchSql: String = {
    val pairs = m5MediaDedupSql.replace("ORDER BY i, j", "")
    s"""WITH pairs AS ($pairs),
       |fp AS (SELECT doc_id, md5(text) AS f FROM documents)
       |SELECT p.i, p.j, p.jac_permille, fi.f <> fj.f AS text_differs
       |FROM pairs p
       |JOIN fp fi ON fi.doc_id = p.i
       |JOIN fp fj ON fj.doc_id = p.j
       |ORDER BY i, j""".stripMargin
  }

  // ---------------------------------------------------------------- m7
  /** Cross-modal retrieval: for each text query embedding, the top-K
    * nearest IMAGE assets by cosine — the "find me the picture for
    * this caption" serving query that joins the embedding space to the
    * media catalog. The modality predicate applies BELOW the per-query
    * top-K (s12's pre-filter discipline: post-filtering an unfiltered
    * top-K under-returns whenever a neighbor is audio/video), and the
    * asset's media identity comes from the m1 metadata surface, so the
    * answer is directly consumable by an asset-serving tier.
    *
    * Scale shape: the query set is constant-size (the probe sample) so
    * it broadcasts; the asset side is one scan with the modality
    * filter and the metadata join pushed before the score; the only
    * shuffle is the per-query top-K window. Swap the brute scorer for
    * s10's persisted index probe when the asset corpus outgrows a
    * scan — the modality filter rides the candidate stream
    * unchanged. */
  def m7CrossModalRetrieval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns._
    val media = Tables(spark, dir, "documents")
      .select($"doc_id",
        when($"n_chars" % 3 === 0, "image/fake")
          .when($"n_chars" % 3 === 1, "audio/fake")
          .otherwise("video/fake").as("mime"))
    val e = Tables(spark, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot($"v", $"v")))
    val q = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))
    val assets = e.join(media, $"vec_id" === $"doc_id")
      .filter($"mime" === "image/fake")
      .select($"doc_id".as("aid"), $"v".as("av"), $"nrm".as("anrm"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"aid".asc)
    assets.join(broadcast(q), $"qid" =!= $"aid")
      .withColumn("cos", dot($"qv", $"av") / ($"qnrm" * $"anrm"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"qid", $"aid", $"rnk", micro($"cos").as("cos_micro"))
      .orderBy($"qid", $"rnk")
  }

  val m7CrossModalRetrievalSql: String = {
    import graft.functions.EngineFns.{sqlDot, sqlMicro}
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    sqrt(${sqlDot("CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")}) AS nrm
       |  FROM embeddings),
       |m AS (
       |  SELECT doc_id,
       |    CASE WHEN n_chars % 3 = 0 THEN 'image/fake'
       |         WHEN n_chars % 3 = 1 THEN 'audio/fake'
       |         ELSE 'video/fake' END AS mime
       |  FROM documents),
       |assets AS (
       |  SELECT e.vec_id AS aid, e.v AS av, e.nrm AS anrm
       |  FROM e JOIN m ON e.vec_id = m.doc_id
       |  WHERE m.mime = 'image/fake'),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10),
       |scored AS (
       |  SELECT qid, aid, ${sqlDot("qv", "av")} / (qnrm * anrm) AS cos
       |  FROM q JOIN assets ON qid <> aid),
       |ranked AS (
       |  SELECT qid, aid, cos,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, aid ASC) AS rnk
       |  FROM scored)
       |SELECT qid, aid, rnk, ${sqlMicro("cos")} AS cos_micro
       |FROM ranked WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- m8
  /** Asset CANONICALIZATION — m5 finds which media near-duplicate
    * which; m8 turns those pairs into the serving artifact: connected
    * components over the pair graph, one canonical asset per cluster
    * (keep-best: largest payload, id as tie-break — the
    * highest-fidelity copy survives, d7's keep-best rule applied to
    * media), and a doc→canonical redirect map covering EVERY asset
    * (singletons map to themselves). This is the table a CDN or
    * training-manifest builder actually consumes — dedup is not done
    * until every reference points at one surviving copy.
    *
    * Scale shape: the pair graph is m5's capped candidate join; the
    * components run on [[DedupOps.componentsFrom]] (min-label
    * propagation + pointer doubling, everything candidate-generated);
    * the keep-best choice is a per-cluster window over the
    * cluster-membership frame (clusters are pair-connected, so the
    * frame is collision-sized, not corpus-sized — the corpus only
    * joins back for the final redirect map, shuffling ids and one
    * byte-count column). */
  def m8MediaCanonical(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = m5Plan(spark, dir).select($"i", $"j")
    val comps = graft.operators.DedupOps.componentsFrom(pairs)
    // eager final checkpoint + release of the component labels: one
    // retained block per call (d8's ScaleSpec no-leak budget)
    try {
      val assets = Tables(spark, dir, "documents")
        .select($"doc_id", octet_length($"text").cast("long").as("n_bytes"))
      val clustered = assets
        .join(comps.select($"id".as("doc_id"), $"lbl"), Seq("doc_id"), "left")
        .select($"doc_id", $"n_bytes",
          coalesce($"lbl", $"doc_id").as("cluster_id"))
      val w = Window.partitionBy($"cluster_id")
        .orderBy($"n_bytes".desc, $"doc_id".asc)
      clustered
        .withColumn("rn", row_number().over(w))
        .withColumn("cluster_size", count(lit(1)).over(
          Window.partitionBy($"cluster_id")))
        .withColumn("canonical_id",
          min(when($"rn" === 1, $"doc_id")).over(
            Window.partitionBy($"cluster_id")))
        .select($"doc_id", $"cluster_id", $"cluster_size", $"canonical_id",
          ($"doc_id" === $"canonical_id").as("is_canonical"))
        .orderBy($"doc_id")
        .localCheckpoint()
    } finally graft.operators.DedupOps.unpersistCheckpointed(comps)
  }

  val m8MediaCanonicalSql: String = {
    val m5Pairs = m5MediaDedupSql.replace("ORDER BY i, j", "")
    s"""WITH RECURSIVE p0 AS ($m5Pairs),
       |edges AS (
       |  SELECT i AS src, j AS dst FROM p0
       |  UNION ALL
       |  SELECT j AS src, i AS dst FROM p0),
       |reach AS (
       |  SELECT DISTINCT src AS id, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst AS id, r.lbl FROM reach r
       |  JOIN edges e ON e.src = r.id),
       |labels AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id),
       |assets AS (
       |  SELECT doc_id,
       |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
       |  FROM documents),
       |clustered AS (
       |  SELECT a.doc_id, a.n_bytes,
       |    COALESCE(l.lbl, a.doc_id) AS cluster_id
       |  FROM assets a LEFT JOIN labels l ON l.id = a.doc_id),
       |ranked AS (
       |  SELECT doc_id, cluster_id,
       |    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |    ROW_NUMBER() OVER (PARTITION BY cluster_id
       |      ORDER BY n_bytes DESC, doc_id ASC) AS rn
       |  FROM clustered),
       |canon AS (
       |  SELECT cluster_id, doc_id AS canonical_id FROM ranked WHERE rn = 1)
       |SELECT r.doc_id, r.cluster_id,
       |  CAST(r.cluster_size AS BIGINT) AS cluster_size,
       |  c.canonical_id,
       |  r.doc_id = c.canonical_id AS is_canonical
       |FROM ranked r JOIN canon c USING (cluster_id)
       |ORDER BY r.doc_id""".stripMargin
  }

  // ------------------------------------------------------------ registry
  // ---------------------------------------------------------------- m9
  /** Day-2 media near-dup maintenance — m5 kept fresh as new streams
    * arrive, including the piece the APPEND-ONLY incremental dedups
    * (d13/d15/d16, t26) never face: DF-CAP CHURN. m5 excludes
    * boilerplate frames (sig in > [[M5DfCap]] streams); a new batch can
    * push a previously-counted sig OVER the cap, which RETRACTS its +1
    * from every standing pair that shared it and shrinks both docs'
    * signature-set sizes — the maintenance is decremental, not
    * append-only. Hot sigs never cool (df only grows), which is the
    * monotonicity that makes one-directional retraction sound.
    *
    * Standing state: the full posting list (sig, doc) bucketed by sig
    * (the key every probe and retraction joins on), the per-sig df, the
    * candidate pair intersections over non-hot sigs, and the per-doc
    * non-hot set sizes. Read-time fold (q41's read-only discipline —
    * the delta never persists, replays are structurally impossible):
    *
    *  - ΔE⁺: batch sigs that are cool under the FOLDED df self-join and
    *    join still-cool old postings → new pair contributions;
    *  - ΔE⁻: each sig crossing the cap this fold retracts one
    *    intersection from every standing pair inside its OLD posting
    *    list — ≤ cap docs per crossing sig, so the same cap that bounds
    *    the candidate join bounds the retraction at ≤ cap²/2 pairs;
    *  - per-doc sizes fold by the same ± deltas.
    *
    * Jaccard re-derives from the folded (shared, ni, nj); the output is
    * exactly m5 over the union (the oracle certifies maintained-equals-
    * derived) plus a constant `n_crossing_sigs` so the churn path is
    * visible at the surface (and spec-pinned against a planted
    * crossing). Daily cost ∝ batch postings + crossing·cap² — never a
    * corpus re-pair. */
  def m9MediaDedupDay2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val docsAll = Tables(spark, dir, "documents")
    val isNew = pmod(md5Long(concat($"doc_id".cast("string"), lit(":m9"))),
      lit(5L)) === 0L
    def st(p: String) = graft.sources.LayoutOps.stateTable(p, dir)
    m9From(st("graft_state_m9_post"), st("graft_state_m9_df"),
      st("graft_state_m9_pair"), st("graft_state_m9_n"),
      docsAll.filter(!isNew), docsAll.filter(isNew))
  }

  /** Frame signatures (doc_id, frame_sig), DISTINCT per doc, for an
    * arbitrary documents frame — m4's decode path without the
    * presentation columns, shared by m9's day-1 build and its per-batch
    * delta. */
  private[graft] def m9SigsFrom(docsDf: DataFrame): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    docsDf.select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .flatMap { case (id, text, _) =>
        (0 to math.max(text.length - 1, 0) by 64).iterator.map { off =>
          (id, FakeCodec.frameSig(
            text.substring(off, math.min(off + 16, text.length))))
        }
      }.toDF("doc_id", "frame_sig").distinct()
  }

  /** [[m9MediaDedupDay2]]'s maintained core over explicit old/new doc
    * frames and state table names — planted-churn specs enter here. */
  private[operators] def m9From(postT: String, dfT: String, pairT: String,
      nT: String, docsOld: DataFrame, docsNew: DataFrame,
      cap: Int = M5DfCap): DataFrame = {
    val spark = docsOld.sparkSession
    import spark.implicits._
    if (!spark.catalog.tableExists(postT) || !spark.catalog.tableExists(dfT)
        || !spark.catalog.tableExists(pairT) || !spark.catalog.tableExists(nT))
      m9InitState(docsOld, postT, dfT, pairT, nT, cap)
    // ---- every call: fold the batch in at read time
    val sigsNew = m9SigsFrom(docsNew).localCheckpoint() // one decode pass
    try {
      val (dfj, pairs, nAll) = m9Fold(postT, dfT, pairT, nT, sigsNew, cap)
      try {
        val nCross = dfj.filter(!$"hot_old" && $"hot_all")
          .agg(count(lit(1)).as("n_crossing_sigs"))
        pairs
          .join(nAll.select($"doc_id".as("i"), $"n_sigs".as("ni")), Seq("i"))
          .join(nAll.select($"doc_id".as("j"), $"n_sigs".as("nj")), Seq("j"))
          .withColumn("jac_permille",
            floor(lit(1000.0) * $"shared" / ($"ni" + $"nj" - $"shared"))
              .cast("long"))
          .filter($"jac_permille" >= 500)
          .select($"i", $"j", $"shared", $"jac_permille")
          .crossJoin(broadcast(nCross))
          .orderBy($"i", $"j")
          .localCheckpoint() // eager: backs the result past the finally
      } finally DedupOps.unpersistCheckpointed(dfj)
    } finally DedupOps.unpersistCheckpointed(sigsNew)
  }

  /** Day-1 of the media-dedup standing state: decode the old corpus
    * ONCE into the bucketed posting list, then derive df/pairs/sizes
    * from the table (three reads of parquet beat three runs of the
    * decode pass). Shared by batch [[m9From]] and the streaming dual
    * [[graft.streaming.StreamOps.streamingMediaDedup]]. */
  private[graft] def m9InitState(docsOld: DataFrame, postT: String,
      dfT: String, pairT: String, nT: String, cap: Int = M5DfCap): Unit = {
    val spark = docsOld.sparkSession
    import spark.implicits._
    Seq(dfT, pairT, nT)
      .foreach(graft.sources.LayoutOps.clearStaleLocation(spark, _))
    graft.sources.LayoutOps.writeBucketed(
      m9SigsFrom(docsOld), postT, "frame_sig",
      graft.sources.LayoutOps.stateBuckets(spark))
    val post = spark.table(postT)
    post.groupBy($"frame_sig").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").format("parquet").saveAsTable(dfT)
    val hot = spark.table(dfT).filter($"df" > cap).select($"frame_sig")
    val k = post.join(broadcast(hot), Seq("frame_sig"), "left_anti")
    k.as("a").join(k.hint("shuffle_hash").as("b"),
        $"a.frame_sig" === $"b.frame_sig" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .agg(count(lit(1)).as("shared"))
      .write.mode("overwrite").format("parquet").saveAsTable(pairT)
    k.groupBy($"doc_id").agg(count(lit(1)).as("n_sigs"))
      .write.mode("overwrite").format("parquet").saveAsTable(nT)
  }

  /** m9's maintenance core over a pinned batch-sig frame: returns
    * (dfj, pairsFolded, nFolded) where `dfj` is the CHECKPOINTED
    * per-sig frame (frame_sig, df, hot_old, hot_all) the caller must
    * release, and the folded pair/size frames are lazy plans reading
    * the standing tables — batch m9 derives its output from them at
    * read time, the streaming dual writes them as the next epoch's
    * snapshots, so the two paths provably run the same fold. */
  private[graft] def m9Fold(postT: String, dfT: String, pairT: String,
      nT: String, sigsNew: DataFrame, cap: Int = M5DfCap)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = sigsNew.sparkSession
    import spark.implicits._
    val dfj = spark.table(dfT).select($"frame_sig", $"df".as("dfo"))
      .join(sigsNew.groupBy($"frame_sig").agg(count(lit(1)).as("dfn")),
        Seq("frame_sig"), "full_outer")
      .select($"frame_sig",
        (coalesce($"dfo", lit(0L)) + coalesce($"dfn", lit(0L))).as("df"),
        (coalesce($"dfo", lit(0L)) > cap).as("hot_old"),
        (coalesce($"dfo", lit(0L)) + coalesce($"dfn", lit(0L)) > cap)
          .as("hot_all"))
      .localCheckpoint() // sig-count-sized; consumed 3× below
    val crossing = dfj.filter(!$"hot_old" && $"hot_all")
      .select($"frame_sig")
    val hotAll = dfj.filter($"hot_all").select($"frame_sig")
    val post = spark.table(postT)
    // ΔE⁻: retract crossing sigs from standing pairs and sizes
    val crossPost = post.join(broadcast(crossing), Seq("frame_sig"),
      "left_semi")
    val corrPairs = crossPost.as("a").join(crossPost.as("b"),
        $"a.frame_sig" === $"b.frame_sig" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .agg((-count(lit(1))).as("shared"))
    val corrN = crossPost.groupBy($"doc_id")
      .agg((-count(lit(1))).as("n_sigs"))
    // ΔE⁺: the batch's cool sigs against themselves and cool old postings
    val okNew = sigsNew.join(broadcast(hotAll), Seq("frame_sig"),
      "left_anti")
    val okOldPost = post.join(broadcast(hotAll), Seq("frame_sig"),
      "left_anti")
    val newOld = okNew.as("x")
      .join(okOldPost.hint("shuffle_hash").as("y"),
        $"x.frame_sig" === $"y.frame_sig")
      .select(least($"x.doc_id", $"y.doc_id").as("i"),
        greatest($"x.doc_id", $"y.doc_id").as("j"))
    val newNew = okNew.as("x").join(okNew.as("y"),
        $"x.frame_sig" === $"y.frame_sig" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("i"), $"y.doc_id".as("j"))
    val contrib = newOld.unionByName(newNew)
      .groupBy($"i", $"j").agg(count(lit(1)).as("shared"))
    val pairs = spark.table(pairT)
      .unionByName(corrPairs).unionByName(contrib)
      .groupBy($"i", $"j").agg(sum($"shared").as("shared"))
      .filter($"shared" > 0)
    val nAll = spark.table(nT).unionByName(corrN)
      .unionByName(okNew.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_sigs")))
      .groupBy($"doc_id").agg(sum($"n_sigs").as("n_sigs"))
      .filter($"n_sigs" > 0)
    (dfj, pairs, nAll)
  }

  val m9MediaDedupDay2Sql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val coin = sqlMd5Long("CAST(doc_id AS VARCHAR) || ':m9'") + " % 5 = 0"
    s"""WITH f AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    md5(substr(text, CAST(off + 1 AS INT), 16)) AS sig
      |  FROM documents,
      |    UNNEST(generate_series(0, greatest(length(text) - 1, 0), 64)) AS u(off)),
      |newdoc AS (SELECT doc_id FROM documents WHERE $coin),
      |df_all AS MATERIALIZED (SELECT sig, COUNT(*) AS c FROM f GROUP BY 1),
      |df_old AS (
      |  SELECT sig, COUNT(*) AS c FROM f
      |  WHERE doc_id NOT IN (SELECT doc_id FROM newdoc) GROUP BY 1),
      |crossing AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_crossing_sigs
      |  FROM df_all a LEFT JOIN df_old o USING (sig)
      |  WHERE COALESCE(o.c, 0) <= $M5DfCap AND a.c > $M5DfCap),
      |hot AS (SELECT sig FROM df_all WHERE c > $M5DfCap),
      |k AS (SELECT doc_id, sig FROM f WHERE sig NOT IN (SELECT sig FROM hot)),
      |n AS (SELECT doc_id, COUNT(*) AS n_sigs FROM k GROUP BY doc_id),
      |p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
      |  FROM k a JOIN k b ON a.sig = b.sig AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i, j, shared,
      |  CAST(FLOOR(1000.0 * shared / (na.n_sigs + nb.n_sigs - shared)) AS BIGINT)
      |    AS jac_permille,
      |  crossing.n_crossing_sigs
      |FROM p JOIN n na ON p.i = na.doc_id JOIN n nb ON p.j = nb.doc_id
      |CROSS JOIN crossing
      |WHERE CAST(FLOOR(1000.0 * shared / (na.n_sigs + nb.n_sigs - shared)) AS BIGINT) >= 500
      |ORDER BY i, j""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m1_multimodal_meta" -> (m1MultimodalMeta _),
    "m2_media_features"  -> (m2MediaFeatures _),
    "m3_media_bytes"     -> (m3MediaBytes _),
    "m4_frame_sample"    -> (m4FrameSample _),
    "m5_media_dedup"     -> (m5MediaDedup _),
    "m6_modal_mismatch"  -> (m6ModalMismatch _),
    "m7_crossmodal_knn"  -> (m7CrossModalRetrieval _),
    "m8_media_canonical" -> (m8MediaCanonical _),
    "m9_media_dedup_day2" -> (m9MediaDedupDay2 _),
  )

  /** m2 intentionally has no oracle (stubbed decode → rows-only check);
    * its SQL-expressible columns are oracle-checked via m3. */
  def oracles: Map[String, String] = Map(
    "m1_multimodal_meta" -> m1MultimodalMetaSql,
    "m2_media_features"  -> m2MediaFeaturesSql,
    "m3_media_bytes"     -> m3MediaBytesSql,
    "m4_frame_sample"    -> m4FrameSampleSql,
    "m5_media_dedup"     -> m5MediaDedupSql,
    "m6_modal_mismatch"  -> m6ModalMismatchSql,
    "m7_crossmodal_knn"  -> m7CrossModalRetrievalSql,
    "m8_media_canonical" -> m8MediaCanonicalSql,
    "m9_media_dedup_day2" -> m9MediaDedupDay2Sql,
  )
}
