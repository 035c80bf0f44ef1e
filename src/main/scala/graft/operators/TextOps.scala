package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.EngineFns._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language ID, quality scoring, token
  * counting, fingerprinting). The reference has no text handling at all
  * (SURVEY.md §2.2), so these are north-star extension operators.
  *
  * All heuristics use engine-exact arithmetic (integer counts and
  * floor-permille ratios; see [[graft.functions.EngineFns]]) so every query
  * has a DuckDB oracle. Everything is a narrow map/aggregate over one
  * table — embarrassingly parallel, no shuffle except the final group-bys,
  * so the plans scale linearly with document count.
  */
object TextOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  private[graft] val stopwords = Seq("the", "a", "of", "and", "to")
  private[operators] val stopwordsSql = stopwords.map(s => s"'$s'").mkString(", ")

  // ---------------------------------------------------------------- t1
  /** Per-document token statistics: token count, distinct-token count,
    * character count. Whitespace tokenizer (the corpus is single-space
    * separated); size/array_distinct run inside whole-stage codegen. */
  def t1TokenStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select(
        $"doc_id",
        size(tokens($"text")).as("n_tokens"),
        size(array_distinct(tokens($"text"))).as("n_distinct"),
        $"n_chars")
      .orderBy($"doc_id")
  }

  val t1TokenStatsSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      |  n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t2
  /** Corpus profile per language: document count, token volume, mean
    * document length (permille fixed-point). */
  def t2LangProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens($"text"))).as("total_tokens"),
        sum($"n_chars").as("total_chars"))
      .withColumn("avg_chars_milli", permille($"total_chars", $"n_docs"))
      .orderBy($"lang")
  }

  val t2LangProfileSql: String =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  ${sqlPermille("SUM(n_chars)", "COUNT(*)")} AS avg_chars_milli
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- t3
  /** Quality scoring: stopword-ratio heuristic bucketing each document.
    * Ratio is a permille integer so the bucket boundaries are exact. */
  def t3QualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val nTok = size(toks)
    val nStop = size(filter(toks, tk => tk.isInCollection(stopwords)))
    docs(spark, dir)
      .select($"doc_id", nTok.as("n_tokens"), nStop.as("n_stop"))
      .withColumn("stop_milli", permille($"n_stop", $"n_tokens"))
      .withColumn("quality",
        when($"n_tokens" < 20, "too_short")
          .when($"stop_milli" > 150, "stopword_heavy")
          .when($"stop_milli" < 10, "unnatural")
          .otherwise("good"))
      .orderBy($"doc_id")
  }

  val t3QualityScoreSql: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '),
       |                         tk -> tk IN ($stopwordsSql))) AS INT) AS n_stop
       |  FROM documents)
       |SELECT doc_id, n_tokens, n_stop,
       |  ${sqlPermille("n_stop", "n_tokens")} AS stop_milli,
       |  CASE WHEN n_tokens < 20 THEN 'too_short'
       |       WHEN ${sqlPermille("n_stop", "n_tokens")} > 150 THEN 'stopword_heavy'
       |       WHEN ${sqlPermille("n_stop", "n_tokens")} < 10 THEN 'unnatural'
       |       ELSE 'good' END AS quality
       |FROM s
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t4
  /** Document fingerprinting: full md5 content hash plus a 60-bit numeric
    * projection (join-friendly fixed-width fingerprint). */
  def t4Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select(
        $"doc_id",
        md5($"text".cast("binary")).as("fp_md5"),
        md5Long($"text").as("fp60"))
      .orderBy($"doc_id")
  }

  val t4FingerprintSql: String =
    s"""SELECT doc_id, md5(text) AS fp_md5, ${sqlMd5Long("text")} AS fp60
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t5
  /** Language-ID heuristic: letter-frequency n-gram signal ('e' density is
    * the classic single-feature discriminator) bucketed into predictions,
    * with accuracy against the labeled lang column. The feature extraction
    * is pure per-row codegen'd string work. */
  def t5LangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eCount = $"n_chars" - length(replace($"text", lit("e"), lit("")))
    docs(spark, dir)
      .select($"doc_id", $"lang", permille(eCount, $"n_chars").as("e_milli"))
      .withColumn("predicted",
        when($"e_milli" >= 70, "en")
          .when($"e_milli" >= 55, "de")
          .when($"e_milli" >= 40, "fr")
          .when($"e_milli" >= 25, "es")
          .otherwise("zh"))
      .withColumn("hit", ($"predicted" === $"lang").cast("int"))
      .orderBy($"doc_id")
  }

  val t5LangIdSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, lang,
       |    ${sqlPermille("(n_chars - LENGTH(REPLACE(text, 'e', '')))", "n_chars")} AS e_milli
       |  FROM documents)
       |SELECT doc_id, lang, e_milli,
       |  CASE WHEN e_milli >= 70 THEN 'en'
       |       WHEN e_milli >= 55 THEN 'de'
       |       WHEN e_milli >= 40 THEN 'fr'
       |       WHEN e_milli >= 25 THEN 'es'
       |       ELSE 'zh' END AS predicted,
       |  CASE WHEN (CASE WHEN e_milli >= 70 THEN 'en'
       |                  WHEN e_milli >= 55 THEN 'de'
       |                  WHEN e_milli >= 40 THEN 'fr'
       |                  WHEN e_milli >= 25 THEN 'es'
       |                  ELSE 'zh' END) = lang THEN 1 ELSE 0 END AS hit
       |FROM s
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t6
  /** Rolling-hash document fingerprint via the native [[PolyHash]]
    * Catalyst expression (codegen'd byte fold — no UDF boxing). */
  def t6PolyHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir)
      .select($"doc_id", expr("polyhash(text)").as("ph"))
      .orderBy($"doc_id")
  }

  val t6PolyHashSql: String =
    """SELECT doc_id,
      |  list_reduce(list_transform(string_split(text, ''),
      |                             c -> CAST(ascii(c) AS BIGINT)),
      |              (acc, c) -> (acc * 31 + c) % 2147483647) AS ph
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t7
  /** Corpus term-frequency head (Zipf profile): the 20 most frequent
    * tokens with their dense rank. The candidate cut is `ORDER BY+LIMIT`
    * (planned as TakeOrderedAndProject — each partition keeps only its
    * local top 20, no global sort); the rank window then runs on 20
    * rows, so the single-partition window is trivially safe. */
  def t7ZipfTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = docs(spark, dir)
      .select(explode(tokens($"text")).as("tok"))
      .filter($"tok" =!= "")
      .groupBy($"tok")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"tok")
      .limit(20)
    counts.withColumn("rank",
        row_number().over(Window.orderBy($"cnt".desc, $"tok")).cast("int"))
      .select($"rank", $"tok", $"cnt")
      .orderBy($"rank")
  }

  val t7ZipfTermsSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, COUNT(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok),
      |r AS (SELECT tok, cnt,
      |        CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS INT) AS rank
      |      FROM c)
      |SELECT rank, tok, cnt FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- t8
  /** TF-IDF-style term salience: the top-3 most characteristic terms per
    * document, scored tf/df (term frequency over document frequency — a
    * linear-idf proxy chosen because ln() is not bit-identical across
    * engines, while one IEEE divide is). Shape at scale: explode → two
    * hash aggregates (tf keyed on (doc, term), df keyed on term) → one
    * shuffle join on term → per-doc top-k window. The df side is orders
    * of magnitude smaller than the tf side (vocabulary vs corpus), so
    * the join shuffles the small stream to the big one's partitioning. */
  def t8Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = docs(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .filter($"term" =!= "")
    val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("score_micro", micro($"tf".cast("double") / $"df"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy($"doc_id")
          .orderBy($"score_micro".desc, $"term")).cast("int"))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"term", $"tf", $"df", $"score_micro")
      .orderBy($"doc_id", $"rank")
  }

  val t8TfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
       |       WHERE term <> '' GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT doc_id, term, tf, df,
       |    ${sqlMicro("CAST(tf AS DOUBLE) / df")} AS score_micro
       |  FROM tf JOIN df USING (term)),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score_micro DESC, term) AS INT) AS rank
       |  FROM scored)
       |SELECT doc_id, rank, term, tf, df, score_micro
       |FROM ranked WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------- t9
  /** Repetition-based quality signals (the Gopher/MassiveText filter
    * family): per document, the duplicate-token fraction, the share of
    * tokens taken by the single most frequent token, and the
    * duplicate-bigram fraction — all as exact permille integers, plus the
    * combined "repetitive" flag a pipeline would filter on.
    *
    * Shape at scale: per-row lambda counting (`transform`+`filter` over
    * the token array) would be O(n·distinct) interpreted work per doc;
    * instead explode → two codegen'd hash aggregates (token counts,
    * then per-doc rollup), and the same for bigrams, joined on doc_id.
    * Everything shuffles narrow (doc_id, term/bigram, count) rows, never
    * the text, and partial aggregation collapses the explosion map-side. */
  def t9Repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = docs(spark, dir).select($"doc_id", tokens($"text").as("toks"))
    val tokStats = base
      .select($"doc_id", explode($"toks").as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max($"c").as("top_cnt"))
    // sequence(1,0) counts DOWN in Spark (EngineFns.trigrams note), so
    // guard the single-token case explicitly.
    val bigrams = when(size($"toks") < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size($"toks") - 1),
        i => concat_ws(" ", element_at($"toks", i), element_at($"toks", i + 1))))
    val bgStats = base
      .select($"doc_id", explode(bigrams).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_bigrams"),
        count(lit(1)).as("nd_bigrams"))
    tokStats.join(bgStats, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        permille($"n_tokens" - $"n_distinct", $"n_tokens").as("dup_tok_milli"),
        permille($"top_cnt", $"n_tokens").as("top_tok_milli"),
        coalesce(permille($"n_bigrams" - $"nd_bigrams", $"n_bigrams"), lit(0L))
          .as("dup_2gram_milli"))
      .withColumn("repetitive",
        $"top_tok_milli" > 120 || $"dup_2gram_milli" > 350)
      .orderBy($"doc_id")
  }

  val t9RepetitionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |tc AS (
       |  SELECT doc_id, tok, COUNT(*) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2),
       |ts AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_cnt
       |  FROM tc GROUP BY 1),
       |bc AS (
       |  SELECT doc_id, bg, COUNT(*) AS c
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
       |                                i -> toks[i] || ' ' || toks[i+1])) AS bg
       |        FROM t) GROUP BY 1, 2),
       |bs AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |    COUNT(*) AS nd_bigrams
       |  FROM bc GROUP BY 1),
       |r AS (
       |  SELECT ts.doc_id, ts.n_tokens,
       |    ${sqlPermille("(ts.n_tokens - ts.n_distinct)", "ts.n_tokens")} AS dup_tok_milli,
       |    ${sqlPermille("ts.top_cnt", "ts.n_tokens")} AS top_tok_milli,
       |    COALESCE(${sqlPermille("(bs.n_bigrams - bs.nd_bigrams)", "bs.n_bigrams")}, 0)
       |      AS dup_2gram_milli
       |  FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id)
       |SELECT doc_id, n_tokens, dup_tok_milli, top_tok_milli, dup_2gram_milli,
       |  (top_tok_milli > 120 OR dup_2gram_milli > 350) AS repetitive
       |FROM r
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- t10
  /** Cross-corpus duplicated-shingle fraction (the C4-style corpus-level
    * dedup signal): for each document, the share of its distinct 8-token
    * shingles that also occur in at least one OTHER document. Pairwise
    * dedup (d3/d4) finds near-identical document pairs; this finds
    * boilerplate — shingles repeated across many documents — without ever
    * forming pairs, so it stays linear when a phrase appears in a million
    * documents (where pairwise candidates would be quadratic).
    *
    * Shape at scale: per-doc distinct shingles ride as 60-bit md5 hashes
    * (fixed 8 bytes — the text never shuffles); one hash aggregate keyed
    * on the shingle hash counts corpus occurrences; a left-semi join back
    * (same key → the exchange is reused) marks each doc's duplicated
    * shingles; two narrow per-doc aggregates finish. The exploded frame
    * feeds both sides, so it is persisted once and released after the
    * small result is checkpointed (d9's pattern). Shingle hashing runs in
    * the native [[graft.functions.NgramHash60]] expression — the
    * composed transform/concat_ws lambda chain costs ~2 ms/doc
    * interpreted (10.7 s at sf0.1; ~1 s native). */
  /** Shingles in more than this many docs are marked duplicated via a
    * broadcast of the (Zipf-tiny) hot set instead of the shuffle join. */
  private val HotCap = 5

  def t10CorpusShingles(spark: SparkSession, dir: String): DataFrame =
    t10From(docs(spark, dir))

  /** t10 over any (doc_id, text) frame — exposed for the planted
    * hot-shingle spec (`checkpoint = false` keeps the plan inspectable
    * instead of collapsing it to the checkpointed RDD scan). */
  private[operators] def t10From(docsDf: DataFrame,
                                 checkpoint: Boolean = true): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val sh = docsDf
      .select($"doc_id", explode(expr("ngram_hashes(text, 8)")).as("h"))
      .persist()
    try {
      // Skew split (d11's df-cap reasoning applied to a no-pairs
      // operator): a universal shingle puts its entire occurrence list
      // in ONE shuffle partition of the dup-marking join — not
      // quadratic, but an unboundedly skewed straggler. Shingles above
      // the cap are BY DEFINITION duplicated (df > cap >= 2), so they
      // need no join at all: the hot set (tiny by Zipf) broadcasts and
      // marks its occurrences map-side; only the cold keys — per-key
      // multiplicity <= HotCap by construction — take the shuffle
      // join. Output is IDENTICAL to the naive single semi-join (hot
      // and cold-dup key sets are disjoint), so the oracle is
      // unchanged; a planted-universal-shingle spec pins the equality
      // and the broadcast shape.
      val dfreq = sh.groupBy($"h").agg(count(lit(1)).as("n_docs_with"))
      val hot = dfreq.filter($"n_docs_with" > HotCap).select($"h")
      val coldDup = dfreq
        .filter($"n_docs_with" >= 2 && $"n_docs_with" <= HotCap)
        .select($"h")
      val perDoc = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      // Cold branch drops hot occurrences MAP-SIDE (broadcast anti)
      // before its shuffle — otherwise every hot occurrence rides the
      // exchange just to be discarded at the join, re-creating the
      // exact straggler partition the split exists to avoid.
      val dupPerDoc = sh.join(broadcast(hot), Seq("h"), "left_semi")
        .unionByName(sh.join(broadcast(hot), Seq("h"), "left_anti")
          .join(coldDup, Seq("h"), "left_semi"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
      val out = docsDf.select($"doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .join(dupPerDoc, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_shingles", lit(0L)).as("n_shingles"),
          coalesce($"n_dup", lit(0L)).as("n_dup"))
        .withColumn("dup_milli",
          coalesce(permille($"n_dup", $"n_shingles"), lit(0L)))
        .withColumn("boilerplate", $"dup_milli" >= 300)
        .orderBy($"doc_id")
      // eager checkpoint: materialized before the unpersist
      if (checkpoint) out.localCheckpoint() else out
    } finally {
      sh.unpersist(blocking = false)
    }
  }

  val t10CorpusShinglesSql: String = {
    val shingle = (0 until 8).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, ${sqlMd5Long("g")} AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_distinct(list_transform(
       |            generate_series(1, greatest(len(toks) - 7, 0)),
       |            i -> $shingle))) AS g
       |        FROM t)),
       |dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
       |pd AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1),
       |dd AS (
       |  SELECT doc_id, COUNT(*) AS n_dup
       |  FROM sh WHERE h IN (SELECT h FROM dup) GROUP BY 1),
       |r AS (
       |  SELECT d.doc_id,
       |    COALESCE(pd.n_shingles, 0) AS n_shingles,
       |    COALESCE(dd.n_dup, 0) AS n_dup
       |  FROM documents d
       |  LEFT JOIN pd ON d.doc_id = pd.doc_id
       |  LEFT JOIN dd ON d.doc_id = dd.doc_id)
       |SELECT doc_id, n_shingles, n_dup,
       |  COALESCE(${sqlPermille("n_dup", "n_shingles")}, 0) AS dup_milli,
       |  COALESCE(${sqlPermille("n_dup", "n_shingles")}, 0) >= 300 AS boilerplate
       |FROM r
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- t11
  /** Benchmark decontamination: flag training documents that share any
    * 8-token shingle with a held-out evaluation corpus (here the `src0`
    * source stands in for the benchmark). Decontamination is the
    * training-pipeline step that keeps eval data out of the training
    * set; n-gram overlap against the benchmark's shingle set is the
    * standard test (exact-substring leakage, robust to document-level
    * edits that defeat whole-doc dedup).
    *
    * Shape at scale: the benchmark shingle set is small by definition
    * (benchmarks are thousands of docs, training corpora are billions),
    * so it BROADCASTS — the 100 TB training side streams map-side
    * through a broadcast left-semi probe, no shuffle of training data at
    * all except the final per-doc aggregate on (doc_id). Shingles ride
    * as 60-bit [[graft.functions.NgramHash60]] hashes. */
  def t11Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = docs(spark, dir)
      .select($"doc_id", $"source", explode(expr("ngram_hashes(text, 8)")).as("h"))
    val benchSet = sh.filter($"source" === "src0").select($"h").distinct()
    val train = sh.filter($"source" =!= "src0")
    val perDoc = train.groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_shingles"))
    val contam = train.join(broadcast(benchSet), Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_contam"))
    perDoc.join(contam, Seq("doc_id"), "left")
      .select($"doc_id", $"source", $"n_shingles",
        coalesce($"n_contam", lit(0L)).as("n_contam"))
      .withColumn("contam_milli", permille($"n_contam", $"n_shingles"))
      .withColumn("contaminated", $"n_contam" > 0)
      .orderBy($"doc_id")
  }

  val t11DecontaminateSql: String = {
    val shingle = (0 until 8).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, source, ${sqlMd5Long("g")} AS h
       |  FROM (SELECT doc_id, source,
       |          unnest(list_distinct(list_transform(
       |            generate_series(1, greatest(len(toks) - 7, 0)),
       |            i -> $shingle))) AS g
       |        FROM t)),
       |bench AS (SELECT DISTINCT h FROM sh WHERE source = 'src0'),
       |train AS (SELECT * FROM sh WHERE source <> 'src0'),
       |pd AS (
       |  SELECT doc_id, source, COUNT(*) AS n_shingles
       |  FROM train GROUP BY 1, 2),
       |ct AS (
       |  SELECT doc_id, COUNT(*) AS n_contam
       |  FROM train WHERE h IN (SELECT h FROM bench) GROUP BY 1)
       |SELECT pd.doc_id, pd.source, pd.n_shingles,
       |  COALESCE(ct.n_contam, 0) AS n_contam,
       |  ${sqlPermille("COALESCE(ct.n_contam, 0)", "pd.n_shingles")} AS contam_milli,
       |  COALESCE(ct.n_contam, 0) > 0 AS contaminated
       |FROM pd LEFT JOIN ct ON pd.doc_id = ct.doc_id
       |ORDER BY pd.doc_id""".stripMargin
  }

  // ------------------------------------------------------------ registry
  // --------------------------------------------------------------- t12
  /** Subword ("BPE-ish") token counting via one regex pass: pieces are
    * maximal vowel runs / non-vowel runs (`[aeiou]+|[^aeiou ]+`), the
    * deterministic regex stand-in for a learned BPE merge table — real
    * tokenizer budgeting needs the trained vocab, but the PIPELINE
    * signals (pieces per doc, chars per piece, subword fan-out per word)
    * only need a fixed, engine-reproducible segmentation. chars/piece is
    * the standard compression-ratio quality signal (~4 chars/token for
    * clean English under real BPE; degenerate text scores far off it).
    *
    * Scale shape: `regexp_extract_all` + `size` is a single codegen'd
    * projection — no explode, nothing but (doc_id, 4 longs) ever leaves
    * the scan, and the regex engine sees each doc once. The character
    * classes are disjoint, so Java (Spark) and RE2 (DuckDB) regex
    * semantics provably agree — no alternation-order or lookahead
    * subtleties ride the oracle. */
  def t12SubwordTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pieces = regexp_extract_all($"text", lit("[aeiou]+|[^aeiou ]+"), lit(0))
    docs(spark, dir)
      .select(
        $"doc_id",
        size(tokens($"text")).as("n_words"),
        size(pieces).as("n_pieces"),
        size(array_distinct(pieces)).as("n_distinct_pieces"),
        length(regexp_replace($"text", " ", "")).as("n_letters"))
      .withColumn("chars_per_piece_milli",
        graft.functions.EngineFns.permille($"n_letters", $"n_pieces"))
      .withColumn("pieces_per_word_milli",
        graft.functions.EngineFns.permille($"n_pieces", $"n_words"))
      .orderBy($"doc_id")
  }

  val t12SubwordTokensSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_words,
      |    CAST(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+')) AS INT)
      |      AS n_pieces,
      |    CAST(len(list_distinct(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+'))) AS INT)
      |      AS n_distinct_pieces,
      |    CAST(len(replace(text, ' ', '')) AS INT) AS n_letters
      |  FROM documents)
      |SELECT doc_id, n_words, n_pieces, n_distinct_pieces, n_letters,
      |  CAST(FLOOR(1000.0 * n_letters / n_pieces) AS BIGINT) AS chars_per_piece_milli,
      |  CAST(FLOOR(1000.0 * n_pieces / n_words) AS BIGINT) AS pieces_per_word_milli
      |FROM p
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- t13
  /** Corpus-familiarity score — the integer-exact stand-in for LM-
    * perplexity quality filtering (CCNet scores documents against a
    * reference LM; the engine-reproducible core of that signal is "how
    * much of this document is made of the corpus's own most common
    * phrases"). Per doc: the permille of its distinct word trigrams
    * that fall in the corpus-wide top-[[FamiliarTop]] trigrams by
    * document frequency. Boilerplate scores ~1000, natural prose in the
    * middle, junk/garble near 0 — combined with t3's shape signals it
    * brackets the quality axis from both ends.
    *
    * Scale shape: one hash-agg over fixed-width gram hashes builds the
    * df table (the shuffle carries longs, never text); the top set is
    * `FamiliarTop` rows — broadcast — so scoring is a map-side join on
    * the gram stream plus one per-doc agg. Ties at the top-N boundary
    * break on the gram hash, so both engines pick the identical set. */
  private val FamiliarTop = 200

  /** Familiarity scores for any (doc_id, text) frame — exposed so specs
    * can plant boilerplate/garble corpora. */
  private[graft] def familiarityOf(docsDf: DataFrame, topN: Int): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val grams = docsDf
      .select($"doc_id", explode(expr("trigram_hashes(text)")).as("gh"))
    val hot = grams.groupBy($"gh").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"gh".asc).limit(topN)
      .select($"gh", lit(1).as("hit"))
    val scored = grams.join(broadcast(hot), Seq("gh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), count($"hit").as("n_familiar"))
    // short docs (<3 tokens) have no grams: left join + explicit zeros
    docsDf.select($"doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_familiar", lit(0L)).as("n_familiar"),
        when(coalesce($"n_grams", lit(0L)) === 0, lit(0L))
          .otherwise(permille($"n_familiar", $"n_grams"))
          .as("familiar_milli"))
      .orderBy($"doc_id")
  }

  def t13Familiarity(spark: SparkSession, dir: String): DataFrame =
    familiarityOf(docs(spark, dir), FamiliarTop)

  val t13FamiliaritySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
       |gr AS (SELECT doc_id, ${sqlTrigrams("l")} AS grams FROM toks),
       |grams AS (
       |  SELECT doc_id, unnest(list_transform(grams, g -> ${sqlMd5Long("g")})) AS gh
       |  FROM gr),
       |hot AS (
       |  SELECT gh FROM (
       |    SELECT gh, COUNT(*) AS df FROM grams GROUP BY gh
       |    ORDER BY df DESC, gh ASC LIMIT $FamiliarTop)),
       |sc AS (
       |  SELECT g.doc_id, COUNT(*) AS n_grams, COUNT(h.gh) AS n_familiar
       |  FROM grams g LEFT JOIN hot h ON g.gh = h.gh
       |  GROUP BY g.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(sc.n_grams, 0) AS n_grams,
       |  COALESCE(sc.n_familiar, 0) AS n_familiar,
       |  CASE WHEN COALESCE(sc.n_grams, 0) = 0 THEN 0
       |       ELSE ${sqlPermille("sc.n_familiar", "sc.n_grams")} END AS familiar_milli
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t14
  /** PII scrub audit: per source, how many documents carry email / IPv4 /
    * long-digit-run patterns, total match counts, and how many characters
    * a redaction pass removes. The regexes stay inside the Java↔RE2
    * common subset (character classes, bounded repeats, `\b` — no
    * lookaround, no backreferences), so Spark's `regexp_count` /
    * `regexp_replace` and DuckDB's `regexp_extract_all` /
    * `regexp_replace(..., 'g')` agree match-for-match, including the
    * non-overlapping left-to-right scan order. Redaction applies the
    * three patterns in a fixed order (email → IPv4 → digit-run) on both
    * engines; `<PII>` contains no digits, so earlier replacements cannot
    * manufacture later matches.
    *
    * The synthetic corpus carries no PII, so the oracle proves the
    * no-match path cross-engine; the planted-document spec
    * (Round6OpsSpec, via [[piiProjected]]) proves the match path —
    * counts, per-doc flags, and redaction deltas on text that does
    * contain emails, IPs and id numbers.
    *
    * Scale shape: a pure map pass (three codegen'd regex ops per row)
    * plus one partial-aggregated group-by on `source` — document text
    * never rides a shuffle. */
  private[operators] val piiEmail =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val piiIpv4 =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[operators] val piiDigits = "\\d{6,}"

  /** Per-document PII projection over any frame with a `text` column —
    * shared by the t14 query and the planted-data spec. */
  private[operators] def piiProjected(df: DataFrame): DataFrame = {
    val redacted = Seq(piiEmail, piiIpv4, piiDigits)
      .foldLeft(col("text")) { (c, p) => regexp_replace(c, p, "<PII>") }
    df.withColumn("n_email", regexp_count(col("text"), lit(piiEmail)))
      .withColumn("n_ipv4", regexp_count(col("text"), lit(piiIpv4)))
      .withColumn("n_digits", regexp_count(col("text"), lit(piiDigits)))
      .withColumn("orig_len", length(col("text")))
      .withColumn("redacted_len", length(redacted))
  }

  def t14PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    piiProjected(docs(spark, dir))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(($"n_email" + $"n_ipv4" + $"n_digits" > 0).cast("long"))
          .as("docs_with_pii"),
        sum($"n_email".cast("long")).as("email_hits"),
        sum($"n_ipv4".cast("long")).as("ipv4_hits"),
        sum($"n_digits".cast("long")).as("digit_hits"),
        sum(($"orig_len" - $"redacted_len").cast("long")).as("chars_redacted"))
      .orderBy($"source")
  }

  val t14PiiScrubSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val digits = "\\d{6,}"
    s"""WITH p AS (
       |  SELECT source,
       |    len(regexp_extract_all(text, '$email')) AS n_email,
       |    len(regexp_extract_all(text, '$ipv4')) AS n_ipv4,
       |    len(regexp_extract_all(text, '$digits')) AS n_digits,
       |    length(text) AS orig_len,
       |    length(regexp_replace(regexp_replace(regexp_replace(text,
       |      '$email', '<PII>', 'g'), '$ipv4', '<PII>', 'g'),
       |      '$digits', '<PII>', 'g')) AS redacted_len
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN n_email + n_ipv4 + n_digits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       |  CAST(SUM(n_email) AS BIGINT) AS email_hits,
       |  CAST(SUM(n_ipv4) AS BIGINT) AS ipv4_hits,
       |  CAST(SUM(n_digits) AS BIGINT) AS digit_hits,
       |  CAST(SUM(orig_len - redacted_len) AS BIGINT) AS chars_redacted
       |FROM p GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- t15
  /** Gopher-style quality rule flags (Rae et al. 2021's document filters,
    * adapted to the integer-exact discipline): per document, the four
    * measurements and the pass/fail flag for each rule —
    *
    *  - `r_len`: token count in [10, 100000];
    *  - `r_meanlen`: mean token length in [3, 10] characters
    *    (permille thresholds 3000..10000). The corpus is single-space
    *    separated, so Σ len(token) = len(text) − (n_tokens − 1) — the
    *    mean needs no second pass over the tokens;
    *  - `r_stop`: at least 2 distinct stopwords present (the
    *    "contains common English words" rule);
    *  - `r_rep`: the most frequent token ≤ 20% of the document
    *    (top_tok_permille ≤ 200) — the repetition screen.
    *
    * `keep` is the conjunction. All ratios are floor-permille integers,
    * so every rule boundary is exact on both engines. The top-token
    * frequency is computed INSIDE the row as a SORTED RUN-LENGTH scan:
    * sort the tokens, find the 1-based run-start positions (i=1 or
    * st[i] != st[i-1]), append the n+1 sentinel, and the max gap
    * between consecutive boundaries is the top token's count —
    * O(n log n) per row with O(1) `element_at` lookups. The earlier
    * form (transform over distinct tokens + a nested filter re-scanning
    * the full array per distinct token) was O(n·distinct) per row —
    * harmless on 100-token docs but a single-row straggler on a
    * 100k-token document (~10^10 comparisons) that no partitioning can
    * fix; t9's own scaladoc bans exactly that pattern. The whole
    * operator remains one map pass, and only fixed-width result rows
    * move. */
  def t15GopherRules(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // materialize the token array (and its distinct) ONCE per row: the
    // rules reference them six times, and the lambda-bearing expressions
    // sit outside whole-stage codegen where subexpression elimination
    // would otherwise have to save us
    docs(spark, dir)
      .select($"doc_id", length($"text").as("tlen"),
        tokens($"text").as("toks"))
      .withColumn("dtoks", array_distinct($"toks"))
      .withColumn("st", array_sort($"toks"))
      // run starts (1-based): position 1 plus every i in [2,n] where the
      // sorted token changes; element_at indices stay within [1,n] so
      // the expression is ANSI-safe for any n >= 2 (guarded below)
      .withColumn("starts", concat(array(lit(1)),
        filter(sequence(lit(2), greatest(size($"st"), lit(2))),
          i => when(i <= size($"st"),
                 element_at($"st", i) =!= element_at($"st", i - 1))
               .otherwise(lit(false)))))
      .withColumn("bounds", concat($"starts", array(size($"st") + 1)))
      .select($"doc_id",
        size($"toks").as("n_tokens"),
        permille($"tlen" - (size($"toks") - 1), size($"toks"))
          .as("mean_len_permille"),
        size(array_intersect($"dtoks", typedLit(stopwords))).as("n_stop"),
        permille(
          when(size($"toks") <= 1, size($"toks")).otherwise(
            array_max(zip_with(
              slice($"bounds", lit(2), size($"starts")), $"starts",
              (a, b) => a - b))),
          size($"toks"))
          .as("top_tok_permille"))
      .withColumn("r_len",
        ($"n_tokens" >= 10 && $"n_tokens" <= 100000).cast("int"))
      .withColumn("r_meanlen",
        ($"mean_len_permille" >= 3000 && $"mean_len_permille" <= 10000)
          .cast("int"))
      .withColumn("r_stop", ($"n_stop" >= 2).cast("int"))
      .withColumn("r_rep", ($"top_tok_permille" <= 200).cast("int"))
      .withColumn("keep",
        ($"r_len" + $"r_meanlen" + $"r_stop" + $"r_rep" === 4).cast("int"))
      .orderBy($"doc_id")
  }

  val t15GopherRulesSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS tlen
       |  FROM documents),
       |so AS (SELECT *, list_sort(toks) AS st FROM s),
       |b AS (
       |  SELECT *, list_concat([1],
       |    list_filter(range(2, len(st) + 1), i -> st[i] != st[i-1])) AS starts
       |  FROM so),
       |b2 AS (SELECT *, list_concat(starts, [len(st) + 1]) AS bounds FROM b),
       |m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS INT) AS n_tokens,
       |    ${sqlPermille("(tlen - (len(toks) - 1))", "len(toks)")} AS mean_len_permille,
       |    CAST(len(list_intersect(list_distinct(toks), [$stopwordsSql])) AS INT) AS n_stop,
       |    ${sqlPermille(
            "(CASE WHEN len(toks) <= 1 THEN len(toks) ELSE " +
            "list_max(list_transform(range(1, len(starts) + 1), j -> bounds[j+1] - bounds[j])) END)",
            "len(toks)")} AS top_tok_permille
       |  FROM b2)
       |SELECT doc_id, n_tokens, mean_len_permille, n_stop, top_tok_permille,
       |  CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 1 ELSE 0 END AS r_len,
       |  CASE WHEN mean_len_permille BETWEEN 3000 AND 10000 THEN 1 ELSE 0 END AS r_meanlen,
       |  CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stop,
       |  CASE WHEN top_tok_permille <= 200 THEN 1 ELSE 0 END AS r_rep,
       |  CASE WHEN n_tokens BETWEEN 10 AND 100000
       |        AND mean_len_permille BETWEEN 3000 AND 10000
       |        AND n_stop >= 2 AND top_tok_permille <= 200
       |       THEN 1 ELSE 0 END AS keep
       |FROM m ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t16
  /** SOURCE-level curation profile — the domain-reputation decision a
    * web-corpus pipeline makes before any per-document filtering
    * (Common Crawl practice: block or keep whole domains first; a
    * domain that is mostly junk or mostly self-copies is cheaper to
    * drop wholesale than to filter document-by-document). Per source:
    * volume, the within-source duplicate rate (docs minus distinct
    * normalized signatures — d2's order/multiplicity-insensitive sig),
    * the share of t3-"good" documents, and the block verdict
    * (good < 30% or dups > 50%, floor-permille exact).
    *
    * Scale shape: two partial-aggregated hash aggregates — (source, sig)
    * collapses before anything counts a duplicate, so document text
    * never rides a shuffle and the second aggregate sees one
    * fixed-width row per distinct signature; the profile frame is
    * |sources| rows. */
  def t16SourceProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val nTok = size(toks)
    val nStop = size(filter(toks, tk => tk.isInCollection(stopwords)))
    val stopMilli = permille(nStop, nTok)
    val good = (nTok >= 20 && stopMilli <= 150 && stopMilli >= 10)
    val sig =
      md5(concat_ws(" ", array_sort(array_distinct(toks))).cast("binary"))
    val perSig = docs(spark, dir)
      .select($"source", sig.as("sig"), nTok.as("n_tokens"),
        good.cast("long").as("is_good"))
      .groupBy($"source", $"sig")
      .agg(count(lit(1)).as("n_copies"),
           sum($"n_tokens".cast("long")).as("sig_tokens"),
           sum($"is_good").as("sig_good"))
    perSig.groupBy($"source")
      .agg(sum($"n_copies").as("n_docs"),
           count(lit(1)).as("distinct_sigs"),
           sum($"sig_tokens").as("total_tokens"),
           sum($"sig_good").as("good_docs"))
      .withColumn("dup_permille",
        permille($"n_docs" - $"distinct_sigs", $"n_docs"))
      .withColumn("good_permille", permille($"good_docs", $"n_docs"))
      .withColumn("blocked",
        ($"good_permille" < 300 || $"dup_permille" > 500).cast("int"))
      .orderBy($"source")
  }

  val t16SourceProfileSql: String =
    s"""WITH d AS (
       |  SELECT source,
       |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS sig,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '),
       |                         tk -> tk IN ($stopwordsSql))) AS INT) AS n_stop
       |  FROM documents),
       |g AS (
       |  SELECT source, sig, n_tokens,
       |    CASE WHEN n_tokens >= 20
       |          AND ${sqlPermille("n_stop", "n_tokens")} BETWEEN 10 AND 150
       |         THEN 1 ELSE 0 END AS is_good
       |  FROM d),
       |per_sig AS (
       |  SELECT source, sig, COUNT(*) AS n_copies,
       |    CAST(SUM(n_tokens) AS BIGINT) AS sig_tokens,
       |    CAST(SUM(is_good) AS BIGINT) AS sig_good
       |  FROM g GROUP BY 1, 2),
       |prof AS (
       |  SELECT source,
       |    CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       |    COUNT(*) AS distinct_sigs,
       |    CAST(SUM(sig_tokens) AS BIGINT) AS total_tokens,
       |    CAST(SUM(sig_good) AS BIGINT) AS good_docs
       |  FROM per_sig GROUP BY source)
       |SELECT source, n_docs, distinct_sigs, total_tokens, good_docs,
       |  ${sqlPermille("(n_docs - distinct_sigs)", "n_docs")} AS dup_permille,
       |  ${sqlPermille("good_docs", "n_docs")} AS good_permille,
       |  CASE WHEN ${sqlPermille("good_docs", "n_docs")} < 300
       |        OR ${sqlPermille("(n_docs - distinct_sigs)", "n_docs")} > 500
       |       THEN 1 ELSE 0 END AS blocked
       |FROM prof ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t17
  /** Hashing-trick linear quality classifier — the SERVING path of the
    * fastText-style model every production pretraining pipeline runs
    * (a linear scorer over hashed bag-of-words features; the GPT-3 /
    * CCNet-lineage quality filter). Training happens offline; what the
    * engine must do at corpus scale is score every document, and that
    * is what this operator exercises end to end: tokens are feature-
    * hashed into a fixed 64-bucket space, per-(doc, bucket) counts form
    * the sparse feature vector, and the score is the integer dot
    * product with a deterministic weight vector (md5-derived per-mille
    * weights standing in for trained parameters — the arithmetic
    * shape, overflow headroom, and plan are exactly those of a real
    * model; only the weight VALUES are fake, which keeps the operator
    * hash-checkable cross-engine with no model file in the sandbox).
    *
    * 100 TB shape: two hash aggregates, both map-side partial —
    * (doc_id, bucket) collapses each doc to ≤ 64 fixed-width rows
    * before the exchange, then one row per doc; the weight lookup is a
    * pure expression on the bucket id (no join, no broadcast, no UDF).
    * Scores are exact integers (count × per-mille weight), so the
    * keep/drop verdict is engine-exact; headroom: |score_w| ≤ 1000 ×
    * n_tokens, overflowing BIGINT only past ~9·10¹⁵ tokens per
    * document. */
  private val T17Buckets = 64L

  /** Keep threshold per token. The md5 weights carry a positive bias
    * (they are not zero-mean over the 64 realized buckets), so a 0
    * cut would keep everything; a real model's bias term plays the
    * same role. 290 sits at the corpus median score-per-token, so the
    * verdict genuinely splits the corpus (spec-asserted). */
  private val T17Bias = 290L

  def t17HashedClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = docs(spark, dir)
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .withColumn("b", pmod(md5Long(concat($"tok", lit(":t17f"))),
        lit(T17Buckets)))
      .groupBy($"doc_id", $"b").agg(count(lit(1)).as("cnt"))
    feats
      .withColumn("w",
        pmod(md5Long(concat($"b".cast("string"), lit(":t17w"))),
          lit(2001L)) - lit(1000L))
      .groupBy($"doc_id")
      .agg(sum($"cnt" * $"w").as("score_w"), sum($"cnt").as("n_toks"))
      .select($"doc_id", $"n_toks", $"score_w",
        // per-token threshold (the bias a trained model would carry),
        // compared in cross-multiplied integer form — no division
        ($"score_w" >= lit(T17Bias) * $"n_toks").as("keep"))
      .orderBy($"doc_id")
  }

  val t17HashedClassifierSql: String = {
    val fHash = sqlMd5Long("tok || ':t17f'")
    val wHash = sqlMd5Long("CAST(b AS VARCHAR) || ':t17w'")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |feat AS (
       |  SELECT doc_id, $fHash % $T17Buckets AS b, COUNT(*) AS cnt
       |  FROM tok GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_id,
       |    CAST(SUM(cnt * ($wHash % 2001 - 1000)) AS BIGINT) AS score_w,
       |    CAST(SUM(cnt) AS BIGINT) AS n_toks
       |  FROM feat GROUP BY doc_id)
       |SELECT doc_id, n_toks, score_w, score_w >= $T17Bias * n_toks AS keep
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- t18
  /** BPE tokenizer training — the pair-counting round. One merge step of
    * byte-pair encoding: count every adjacent character pair across the
    * corpus and rank the top [[T18Merges]] candidates (a real trainer
    * merges rank 1 and repeats; each round is this exact job).
    *
    * 100 TB shape — the Zipf collapse real BPE trainers (SentencePiece,
    * HF tokenizers) rely on: the corpus is first collapsed to its
    * DISTINCT-WORD vocabulary with counts (one hash agg; vocab is
    * sublinear in corpus size by Zipf's law), and pair extraction runs
    * over the vocab weighted by word count — each word's characters are
    * scanned once per round no matter how many billion times the word
    * occurs. The pair stream is fixed-width (2-char keys), the count agg
    * is map-side partial, and the final top-N is a TakeOrdered (no
    * global sort shuffle). Ties at the cut break on the pair text, so
    * both engines pick the identical merge set. */
  private val T18Merges = 20

  def t18BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab = docs(spark, dir)
      .select(explode(tokens($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("wcnt"))
    val pairs = vocab.filter(length($"word") >= 2)
      .select($"wcnt", explode(
        expr("transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")
      ).as("pair"))
    val agg = pairs.groupBy($"pair").agg(sum($"wcnt").as("cnt"))
    // top-N candidate merges; rank assigned after the TakeOrdered cut
    // (the limit(N) frame is N rows — the window sort is driver-trivial)
    val w = Window.orderBy($"cnt".desc, $"pair".asc)
    agg.orderBy($"cnt".desc, $"pair".asc).limit(T18Merges)
      .withColumn("rnk", row_number().over(w))
      .select($"rnk", $"pair", $"cnt")
      .orderBy($"rnk")
  }

  val t18BpeMergesSql: String =
    s"""WITH w AS (
       |  SELECT tok AS word, COUNT(*) AS wcnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  GROUP BY tok),
       |pairs AS (
       |  SELECT unnest(list_transform(generate_series(1, len(word) - 1),
       |           i -> substr(word, i, 2))) AS pair, wcnt
       |  FROM w WHERE len(word) >= 2),
       |agg AS (
       |  SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM pairs GROUP BY pair),
       |ranked AS (
       |  SELECT pair, cnt,
       |    ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS rnk
       |  FROM agg)
       |SELECT rnk, pair, cnt FROM ranked WHERE rnk <= $T18Merges
       |ORDER BY rnk""".stripMargin

  // --------------------------------------------------------------- t19
  /** Character-LM surprise scoring — the perplexity-style quality
    * filter (CCNet's KenLM gate) in EXACT integer arithmetic: a
    * conditional char-trigram model over the corpus, and each doc
    * scored by its total "surprise bits" Σ (bitlen(c₂+64) − bitlen(c₃)),
    * where c₃ counts the trigram and c₂ its bigram prefix — the +64
    * is Laplace-style mass (one pseudo-count per alphabet symbol)
    * reserved for unseen continuations, without which a NOVEL prefix
    * scores zero surprise (1/1 "certainty") and garble slips through
    * — the planted spec case. bitlen
    * computes as `length(bin(x))` — pure integer, so two engines agree
    * bit for bit where a float log2 diverges in the last ulp (libm
    * `log` is not correctly rounded; floor(log2(8)) via doubles can
    * yield 2). The score is log2-perplexity quantized to whole bits:
    * fluent text re-uses frequent transitions (small bit gap), garble
    * hits rare continuations (large gap) — same ordering signal as
    * the float filter, cross-engine-exact.
    *
    * Scale shape: the MODEL is alphabet-bounded — distinct char
    * trigrams ≤ |Σ|³ regardless of corpus size — so both count tables
    * broadcast and scoring is MAP-SIDE at any scale; the corpus
    * contributes one hash-agg shuffle of fixed-width trigram keys to
    * train and one per-doc agg to score. That boundedness is exactly
    * why production perplexity filters are char/subword models. */
  def t19LmSurprise(spark: SparkSession, dir: String): DataFrame =
    // the corpus explode IS the cost here — opt into the scan-
    // parallelism restore (Tables.parallel; 4.5 → 2.2 s at sf0.1)
    t19LmSurpriseFrom(Tables.parallel(spark, dir, "documents"))

  private[operators] def t19LmSurpriseFrom(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    val tris = d
      .filter(length($"text") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .as("tri"))
    val model = tris.groupBy($"tri").agg(count(lit(1)).as("c3"))
    val pre = model.groupBy(substring($"tri", 1, 2).as("pre"))
      .agg(sum($"c3").as("c2"))
    val perDoc = tris
      .join(broadcast(model), Seq("tri"))
      .join(broadcast(pre), substring($"tri", 1, 2) === $"pre")
      .withColumn("b", length(bin($"c2" + 64)) - length(bin($"c3")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tri"), sum($"b".cast("long")).as("bits"))
    d.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tri", lit(0L)).as("n_tri"),
        coalesce($"bits", lit(0L)).as("bits"),
        when(coalesce($"n_tri", lit(0L)) === 0, 0L)
          .otherwise(permille($"bits", $"n_tri")).as("milli_bits"))
      .orderBy($"doc_id")
  }

  val t19LmSurpriseSql: String =
    s"""WITH tris AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(list_transform(generate_series(1, length(text) - 2),
       |                          i -> substr(text, i, 3))) AS tri
       |  FROM documents WHERE length(text) >= 3),
       |model AS MATERIALIZED (
       |  SELECT tri, COUNT(*) AS c3 FROM tris GROUP BY tri),
       |pre AS (
       |  SELECT substr(tri, 1, 2) AS pre, CAST(SUM(c3) AS BIGINT) AS c2
       |  FROM model GROUP BY 1),
       |sc AS (
       |  SELECT t.doc_id, COUNT(*) AS n_tri,
       |    CAST(SUM(len(bin(p.c2 + 64)) - len(bin(m.c3))) AS BIGINT) AS bits
       |  FROM tris t
       |  JOIN model m USING (tri)
       |  JOIN pre p ON substr(t.tri, 1, 2) = p.pre
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(sc.n_tri, 0) AS n_tri,
       |  COALESCE(sc.bits, 0) AS bits,
       |  CASE WHEN COALESCE(sc.n_tri, 0) = 0 THEN 0
       |       ELSE ${sqlPermille("sc.bits", "sc.n_tri")} END AS milli_bits
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- t25
  /** [[t19LmSurprise]] with a HASHED-FEATURE model — the variant that
    * stays bounded on ANY alphabet. t19's model table is capped at |Σ|³
    * distinct trigrams, a safe broadcast for ASCII (≤ 857k rows) but
    * billions for a CJK corpus (|Σ| ~ 10⁴); t17's hashed-feature
    * discipline applies directly: key the model by a hash BUCKET of the
    * trigram (and the prefix model by a bucket of its bigram), so both
    * count tables are ≤ [[T25Buckets]] rows — broadcastable at any
    * alphabet and any corpus size — while scoring stays the same exact
    * integer bit arithmetic.
    *
    * The tradeoff, recorded: bucket collisions MERGE counts, and the
    * bias is TWO-directional — a trigram-bucket (hb) collision grows
    * c3, so a rare trigram inheriting a frequent one's count scores
    * too FEW surprise bits (under-report), while a prefix-bucket (pb)
    * collision grows c2, inflating bitlen(c2+64) and scoring too MANY
    * bits (over-report). At 2¹⁶ buckets and this corpus's ~20k
    * distinct trigrams the expected collision load is ~14% of buckets
    * shared — the planted spec pins both the collision-free agreement
    * with t19 and the fully-degenerate buckets=1 case.
    *
    * Plan shape (round 11 reshape): training is ONE corpus pass — a
    * grouping-sets aggregation over ((hb),(pb)) emits both margin
    * tables from a single explode (t19 derives `pre` from `model`;
    * that trick is unavailable here because pb is not a function of
    * hb, and the first cut paid three corpus explodes for it:
    * 11.6 s → 6.0 s at sf0.1, A/B recorded; remaining gap to t19's 4.5 s is the Expand duplication grouping sets pays in pass 1). The ≤2·buckets-row
    * margins frame is localCheckpointed so the model/pre branches read
    * it instead of re-running the corpus subtree; only the ≤2¹⁶-row
    * model and pre tables broadcast. Two corpus explodes total (train
    * + score), matching t19. The hash itself is [[polyBucket]] —
    * integer polynomial in codegen; the original double-md5-per-
    * trigram hashing was the other half of the 2.7× gap. */
  private[operators] val T25Buckets = 1 << 16

  def t25LmSurpriseHashed(spark: SparkSession, dir: String): DataFrame =
    // heavy per-trigram hashing on the explode — opt into the scan-
    // parallelism restore (Tables.parallel; 6.0 → 1.6 s at sf0.1)
    t25LmSurpriseHashedFrom(Tables.parallel(spark, dir, "documents"),
      T25Buckets)

  /** Base-65599 codepoint polynomial over the first `n` chars of `s`,
    * mod `buckets` — the feature hash. Pure integer arithmetic inside
    * whole-stage codegen; the earlier md5-based variant (hex digest +
    * string `conv` per trigram, twice) measured 1.9× slower end-to-end
    * (11.6 s vs 6.0 s at sf0.1, recorded A/B, jointly with the
    * one-pass-training reshape). Magnitude-safe for any
    * Unicode input: max codepoint 0x10FFFF → h₃ < 2⁶³ with room, so
    * Spark and an oracle with checked BIGINT arithmetic compute the
    * same value (no wraparound on either side). */
  private def polyBucket(s: Column, n: Int, buckets: Int): Column = {
    val h = (1 to n).map(i => ascii(substring(s, i, 1)).cast("long"))
      .reduceLeft((acc, c) => acc * 65599L + c)
    pmod(h, lit(buckets.toLong))
  }

  private[operators] def t25LmSurpriseHashedFrom(d: DataFrame,
      buckets: Int): DataFrame = {
    import d.sparkSession.implicits._
    val tris = d
      .filter(length($"text") >= 3)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .as("tri"))
      .select($"doc_id",
        polyBucket($"tri", 3, buckets).as("hb"),
        polyBucket($"tri", 2, buckets).as("pb"))
    // ONE training pass: grouping sets computes both margins — (hb)
    // totals and (pb) totals — from a single corpus aggregation whose
    // output is ≤ 2·buckets rows AT ANY ALPHABET (margins only; the
    // intermediate (hb,pb) pair frame of the first cut was bounded only
    // by buckets², and deriving model/pre from it re-ran the corpus
    // explode per branch — no exchange reuse fired). The margins frame
    // is localCheckpointed: bounded-tiny, and it cuts the corpus passes
    // to exactly two (train + score), t19's shape.
    val margins = tris
      .groupingSets(Seq(Seq($"hb"), Seq($"pb")), $"hb", $"pb")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val model = margins.filter($"hb".isNotNull).select($"hb", $"c".as("c3"))
    val pre = margins.filter($"pb".isNotNull).select($"pb", $"c".as("c2"))
    val perDoc = tris
      .join(broadcast(model), Seq("hb"))
      .join(broadcast(pre), Seq("pb"))
      .withColumn("b", length(bin($"c2" + 64)) - length(bin($"c3")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tri"), sum($"b".cast("long")).as("bits"))
    d.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tri", lit(0L)).as("n_tri"),
        coalesce($"bits", lit(0L)).as("bits"),
        when(coalesce($"n_tri", lit(0L)) === 0, 0L)
          .otherwise(permille($"bits", $"n_tri")).as("milli_bits"))
      .orderBy($"doc_id")
  }

  /** DuckDB text of [[polyBucket]] — the explicit BIGINT cast keeps the
    * polynomial in checked 64-bit arithmetic (DuckDB would error on an
    * INT32 overflow otherwise), matching Spark's long math exactly. */
  private def sqlPolyBucket(expr: String, n: Int, buckets: Int): String = {
    val terms = (1 to n).map(i => s"ascii(substr($expr, $i, 1))")
    val h = terms.tail.foldLeft(s"CAST(${terms.head} AS BIGINT)")(
      (acc, c) => s"($acc * 65599 + $c)")
    s"$h % $buckets"
  }

  val t25LmSurpriseHashedSql: String =
    s"""WITH tris AS MATERIALIZED (
       |  SELECT doc_id,
       |    ${sqlPolyBucket("tri", 3, T25Buckets)} AS hb,
       |    ${sqlPolyBucket("tri", 2, T25Buckets)} AS pb
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, length(text) - 2),
       |                            i -> substr(text, i, 3))) AS tri
       |    FROM documents WHERE length(text) >= 3)),
       |model AS MATERIALIZED (
       |  SELECT hb, COUNT(*) AS c3 FROM tris GROUP BY hb),
       |pre AS MATERIALIZED (
       |  SELECT pb, COUNT(*) AS c2 FROM tris GROUP BY pb),
       |sc AS (
       |  SELECT t.doc_id, COUNT(*) AS n_tri,
       |    CAST(SUM(len(bin(p.c2 + 64)) - len(bin(m.c3))) AS BIGINT) AS bits
       |  FROM tris t
       |  JOIN model m USING (hb)
       |  JOIN pre p USING (pb)
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  COALESCE(sc.n_tri, 0) AS n_tri,
       |  COALESCE(sc.bits, 0) AS bits,
       |  CASE WHEN COALESCE(sc.n_tri, 0) = 0 THEN 0
       |       ELSE ${sqlPermille("sc.bits", "sc.n_tri")} END AS milli_bits
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------- t20
  /** BM25 keyword retrieval — the lexical half of every retrieval /
    * RAG-data pipeline: for each keyword query, the top-10 documents by
    * summed BM25(k1=1.2, b=0.75) term scores. Queries are derived
    * deterministically from the corpus (the distinct leading 3 tokens of
    * docs 0–2) so both engines see the same query set.
    *
    * Engine-exact scoring: every per-(query,term,doc) score is floored
    * to an integer micro-score FIRST, then summed — integer sums are
    * order-independent, so the cross-engine hash can't be broken by
    * float summation order (the same discipline as t19's integer bits).
    * The per-row score itself is a fixed expression tree of IEEE double
    * ops (each individually deterministic): the idf is the RATIONAL
    * Robertson form (N − df + ½)/(df + ½) written as
    * (2N − 2df + 1)/(2df + 1) — monotone in the usual log idf, so the
    * ranking signal is preserved without a libm log whose last ulp
    * differs across engines.
    *
    * Scale shape: one text scan feeds the (doc,term,tf) explode; df and
    * per-doc length are narrow aggregates over it (in production these
    * ARE the standing inverted index + doc-length table; a real posting
    * list also carries dl so the scoring join below needs no dl side).
    * The query side — terms × their df — is metadata-sized and
    * BROADCAST, so candidate generation is a map-side semi join of the
    * posting rows; only candidate (qid, doc) rows ever shuffle for the
    * final sum + per-query top-K window. Document text never rides a
    * shuffle. */
  def t20Bm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val q = d.filter($"doc_id" < 3)
      .select($"doc_id".as("qid"),
        explode(slice(tokens($"text"), 1, 3)).as("term"))
      .filter($"term" =!= "").distinct()
    t20Bm25From(d, q)
  }

  private[graft] def t20Bm25From(d: DataFrame, qterms: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    val tf = d.select($"doc_id", explode(tokens($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    val dfx = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    t20Bm25Score(tf, dl, dfx, stats, qterms)
  }

  /** The BM25 scoring core over explicit index frames — `tf(doc_id,
    * term, tf)`, `dl(doc_id, dl)`, `dfx(term, df)`, 1-row
    * `stats(n_docs, sum_dl)` — shared by from-scratch t20 (frames
    * derived from the text scan) and day-2 t26 (frames read from the
    * standing index plus a batch-sized fold). */
  private def t20Bm25Score(tf: DataFrame, dl: DataFrame, dfx: DataFrame,
      stats: DataFrame, qterms: DataFrame): DataFrame = {
    import tf.sparkSession.implicits._
    // (qid, term, df): query-sized — the broadcast probe side
    val qdf = qterms.join(dfx, "term")
    val nd = $"n_docs".cast("double")
    val dfd = $"df".cast("double")
    val tfd = $"tf".cast("double")
    val dld = $"dl".cast("double")
    val idfr = (lit(2.0) * nd - lit(2.0) * dfd + lit(1.0)) /
      (lit(2.0) * dfd + lit(1.0))
    // k1=1.2, b=0.75: k1+1=2.2, k1(1-b)=0.3, k1·b=0.9; dl/avgdl written
    // as dl·N/sum_dl so only exact integers feed the divides
    val tfc = (tfd * lit(2.2)) /
      (tfd + lit(0.3) + lit(0.9) * dld * nd / $"sum_dl".cast("double"))
    val w = Window.partitionBy($"qid")
      .orderBy($"score_sum_micro".desc, $"doc_id".asc)
    tf.join(broadcast(qdf), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score_micro", micro(idfr * tfc))
      .groupBy($"qid", $"doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        sum($"score_micro").as("score_sum_micro"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter($"rank" <= 10)
      .select($"qid", $"rank", $"doc_id", $"n_terms_hit", $"score_sum_micro")
      .orderBy($"qid", $"rank")
  }

  val t20Bm25Sql: String = {
    val idfr = "((2.0 * CAST(n_docs AS DOUBLE) - 2.0 * CAST(df AS DOUBLE) + 1.0) / (2.0 * CAST(df AS DOUBLE) + 1.0))"
    val tfc = "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 0.3 + 0.9 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(sum_dl AS DOUBLE)))"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
       |       WHERE term <> '' GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
       |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |qt AS (
       |  SELECT DISTINCT qid, term FROM (
       |    SELECT doc_id AS qid,
       |      unnest(string_split(text, ' ')[1:3]) AS term
       |    FROM documents WHERE doc_id < 3)
       |  WHERE term <> ''),
       |scored AS (
       |  SELECT qt.qid, tf.doc_id,
       |    ${sqlMicro(s"$idfr * $tfc")} AS score_micro
       |  FROM tf
       |  JOIN qt USING (term)
       |  JOIN dfx USING (term)
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN stats),
       |summed AS (
       |  SELECT qid, doc_id, COUNT(*) AS n_terms_hit,
       |    CAST(SUM(score_micro) AS BIGINT) AS score_sum_micro
       |  FROM scored GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score_sum_micro DESC, doc_id ASC) AS INT) AS rank
       |  FROM summed)
       |SELECT qid, rank, doc_id, n_terms_hit, score_sum_micro
       |FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin
  }

  // ---------------------------------------------------------------- t21
  /** Pairwise SOURCE vocabulary similarity — the exact Jaccard overlap
    * of every two sources' token vocabularies, the corpus-curation
    * matrix that answers "which sources are near-rebrands of each
    * other / which add genuinely new language?" before mixture weights
    * (p6) are assigned. This is the EXACT counterpart of q45's
    * sketched overlap: sources are few, so the full matrix is
    * affordable and the sketch is unnecessary.
    *
    * Scale shape: one pass over the text explodes tokens and dedups
    * (source, token) in a codegen'd hash-agg — map-side partial dedup
    * means repeated tokens never ride the shuffle, and after it NO
    * document text moves (the vocabulary frame is (source, token)
    * pairs). The pair join fans each token out to at most
    * |sources|²/2 rows — the source list is a catalog-sized constant,
    * so unlike document-level gram joins (d3/d11) there is no hot-key
    * risk and no df-cap needed; per-pair counts collapse map-side into
    * a |sources|²-sized frame. */
  def t21SourceSimilarity(spark: SparkSession, dir: String): DataFrame =
    t21SourceSimilarityFrom(docs(spark, dir))

  /** [[t21SourceSimilarity]] over an arbitrary (source, text) frame —
    * planted-vocabulary specs enter here. */
  private[operators] def t21SourceSimilarityFrom(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val voc = d
      .select($"source", explode(split($"text", " ")).as("tok"))
      .distinct()
    val sizes = voc.groupBy($"source").agg(count(lit(1)).as("n"))
    val pairs = voc.as("a").join(voc.as("b"),
        $"a.tok" === $"b.tok" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select($"source".as("src_a"), $"n".as("n_a")), "src_a")
      .join(sizes.select($"source".as("src_b"), $"n".as("n_b")), "src_b")
      .select($"src_a", $"src_b", $"n_a", $"n_b", $"n_common")
      .withColumn("jaccard_permille",
        expr("(1000 * n_common) div (n_a + n_b - n_common)"))
      .orderBy($"src_a", $"src_b")
  }

  val t21SourceSimilaritySql: String =
    """WITH voc AS (
      |  SELECT DISTINCT source, tok FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS tok
      |    FROM documents)),
      |sizes AS (SELECT source, COUNT(*) AS n FROM voc GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      |  FROM voc a JOIN voc b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
      |  (1000 * n_common) // (sa.n + sb.n - n_common) AS jaccard_permille
      |FROM pairs
      |JOIN sizes sa ON sa.source = src_a
      |JOIN sizes sb ON sb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------- t22
  /** Language-ID confusion matrix — t5's classifier audited against the
    * declared `lang` labels: per (declared, predicted) cell the doc
    * count and the within-declared share in permille. This is the
    * evaluation artifact a langid gate ships with (s13's
    * measure-the-index discipline applied to the text classifier):
    * off-diagonal mass tells you which languages leak into which
    * before the filter runs at corpus scale.
    *
    * Scale shape: t5's per-row codegen'd feature extraction followed
    * by a |langs|²-bounded hash-agg — the matrix and its per-row
    * normalizing window are metadata-sized at any corpus size. */
  def t22LangConfusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = t5LangId(spark, dir)
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"lang")
    cells
      .withColumn("lang_total", sum($"n_docs").over(w))
      .select($"lang", $"predicted", $"n_docs",
        expr("(1000 * n_docs) div lang_total").as("share_permille"))
      .orderBy($"lang", $"predicted")
  }

  val t22LangConfusionSql: String =
    s"""WITH t5 AS (${t5LangIdSql.replace("ORDER BY doc_id", "")}),
       |cells AS (
       |  SELECT lang, predicted, COUNT(*) AS n_docs
       |  FROM t5 GROUP BY 1, 2)
       |SELECT lang, predicted, n_docs,
       |  CAST((1000 * n_docs) // SUM(n_docs) OVER (PARTITION BY lang)
       |    AS BIGINT) AS share_permille
       |FROM cells
       |ORDER BY lang, predicted""".stripMargin

  // ---------------------------------------------------------------- t23
  /** Holdout-contamination risk — for every HOLDOUT document of p13's
    * leakage-safe split, the fraction of its 8-gram shingles that also
    * appear anywhere in the TRAIN split. This is the measurement that
    * certifies an eval set: t11 removes documents overlapping a known
    * benchmark, p13 prevents near-dup straddle BY CONSTRUCTION, and
    * t23 is the auditor that quantifies whatever residual n-gram
    * overlap remains (shared boilerplate, common idioms) so "eval loss"
    * can be read with its contamination level attached.
    *
    * Scale shape: shingles are the native [[graft.functions
    * .NgramHash60]] 60-bit hashes (distinct per doc by construction) —
    * text never rides a shuffle; the train shingle set collapses in a
    * hash-agg; the leak check is one shuffle-hash semi-join of the
    * holdout side (a tenth of the corpus) against it, and per-doc
    * counts collapse map-side. The split itself reuses p13's
    * cluster-level coin (d8's candidate-generated components — nothing
    * all-pairs anywhere in the lineage). */
  def t23OverlapRisk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The split is FROZEN standing state, not a per-query derivation: a
    // train/holdout assignment must never drift between runs, so the
    // first call persists p13's (deterministic) output and every later
    // audit reads the frozen table — production semantics AND the
    // d8-clustering cost paid once per warehouse.
    val splitT = graft.sources.LayoutOps.stateTable("graft_state_t23_split", dir)
    if (!spark.catalog.tableExists(splitT)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, splitT)
      PipelineOps.p13LeakageSplit(spark, dir).select($"doc_id", $"split")
        .write.mode("overwrite").format("parquet").saveAsTable(splitT)
    }
    val split = spark.table(splitT)
    val sh = docs(spark, dir)
      .select($"doc_id", explode(expr("ngram_hashes(text, 8)")).as("h"))
      .join(split, Seq("doc_id"))
    val trainH = sh.filter($"split" === "train").select($"h").distinct()
    val ho = sh.filter($"split" === "holdout")
    val leaked = ho.join(trainH.hint("shuffle_hash"), Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_leaked"))
    ho.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(leaked, Seq("doc_id"), "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_leaked", lit(0L)).as("n_leaked"))
      .withColumn("leak_permille", expr("(1000 * n_leaked) div n_shingles"))
      .orderBy($"doc_id")
  }

  val t23OverlapRiskSql: String = {
    val shingle = (0 until 8).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
    s"""WITH split AS (
       |  SELECT doc_id, split FROM (
       |    ${PipelineOps.p13LeakageSplitSql.replaceAll("ORDER BY doc_id$", "")})),
       |tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, ${sqlMd5Long("g")} AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_distinct(list_transform(
       |            generate_series(1, greatest(len(toks) - 7, 0)),
       |            i -> $shingle))) AS g
       |        FROM tk)),
       |js AS (SELECT sh.doc_id, sh.h, s.split FROM sh JOIN split s USING (doc_id)),
       |trainh AS (SELECT DISTINCT h FROM js WHERE split = 'train'),
       |ho AS (SELECT doc_id, h FROM js WHERE split = 'holdout'),
       |leaked AS (
       |  SELECT doc_id, COUNT(*) AS n_leaked
       |  FROM ho WHERE h IN (SELECT h FROM trainh) GROUP BY 1),
       |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM ho GROUP BY 1)
       |SELECT t.doc_id, t.n_shingles,
       |  COALESCE(l.n_leaked, 0) AS n_leaked,
       |  (1000 * COALESCE(l.n_leaked, 0)) // t.n_shingles AS leak_permille
       |FROM tot t LEFT JOIN leaked l USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t24
  /** Per-source quality DRIFT — the longitudinal member of the audit
    * family: q43 checks a snapshot's constraints, t16 profiles sources
    * once; t24 compares today's slice against a FROZEN baseline
    * profile per source and flags the ones whose good-document share
    * moved more than 100 permille points. This is the alarm that
    * catches a source going bad (format change, spam flood, scraper
    * breakage) between scheduled full re-profiles — the day-2 family
    * (q41/q42/q48) applied to data-quality monitoring.
    *
    * Scale shape: the baseline is standing state (one |sources|-row
    * table, built from the standing slice on first call — q42's
    * idempotent-read discipline: the delta never persists); the daily
    * side profiles ONLY today's arrivals with t16's map-side good
    * flag, so daily cost tracks the batch. The comparison is a
    * |sources|-sized full-outer join — a source absent from either
    * side surfaces with null shares rather than silently dropping
    * (new sources and dead sources are exactly what monitoring must
    * show). */
  def t24QualityDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stateT = graft.sources.LayoutOps.stateTable("graft_state_t24_profile", dir)
    val isNew = pmod(md5Long(concat($"doc_id".cast("string"), lit(":t24"))),
      lit(5L)) === 0L
    def profileOf(d: DataFrame): DataFrame = {
      val toks = tokens($"text")
      val nTok = size(toks)
      val nStop = size(filter(toks, tk => tk.isInCollection(stopwords)))
      val good = (nTok >= 20 && permille(nStop, nTok).between(10, 150))
      d.select($"source", good.cast("long").as("is_good"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"is_good").as("good_docs"))
        .select($"source", $"n_docs",
          permille($"good_docs", $"n_docs").as("good_permille"))
    }
    if (!spark.catalog.tableExists(stateT)) {
      graft.sources.LayoutOps.clearStaleLocation(spark, stateT)
      profileOf(docs(spark, dir).filter(!isNew))
        .write.mode("overwrite").format("parquet").saveAsTable(stateT)
    }
    val base = spark.table(stateT).select($"source",
      $"n_docs".as("base_n_docs"), $"good_permille".as("base_good_permille"))
    val today = profileOf(docs(spark, dir).filter(isNew)).select($"source",
      $"n_docs".as("today_n_docs"), $"good_permille".as("today_good_permille"))
    base.join(today, Seq("source"), "full_outer")
      .withColumn("drift_permille",
        $"today_good_permille" - $"base_good_permille")
      .withColumn("drifted",
        coalesce(abs($"drift_permille") > 100, lit(false)))
      .select($"source", $"base_n_docs", $"base_good_permille",
        $"today_n_docs", $"today_good_permille", $"drift_permille", $"drifted")
      .orderBy($"source")
  }

  val t24QualityDriftSql: String = {
    val coin = sqlMd5Long("CAST(doc_id AS VARCHAR) || ':t24'")
    def prof(name: String, pred: String): String =
      s"""$name AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |    ${sqlPermille("SUM(is_good)", "COUNT(*)")} AS good_permille
         |  FROM (
         |    SELECT source,
         |      CASE WHEN len(string_split(text, ' ')) >= 20
         |            AND ${sqlPermille(
               s"len(list_filter(string_split(text, ' '), tk -> tk IN ($stopwordsSql)))",
               "len(string_split(text, ' '))")} BETWEEN 10 AND 150
         |           THEN 1 ELSE 0 END AS is_good
         |    FROM documents WHERE $pred)
         |  GROUP BY source)""".stripMargin
    s"""WITH ${prof("base", s"NOT ($coin % 5 = 0)")},
       |${prof("today", s"$coin % 5 = 0")}
       |SELECT
       |  COALESCE(b.source, t.source) AS source,
       |  b.n_docs AS base_n_docs,
       |  b.good_permille AS base_good_permille,
       |  t.n_docs AS today_n_docs,
       |  t.good_permille AS today_good_permille,
       |  t.good_permille - b.good_permille AS drift_permille,
       |  COALESCE(abs(t.good_permille - b.good_permille) > 100, FALSE)
       |    AS drifted
       |FROM base b FULL OUTER JOIN today t ON b.source = t.source
       |ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------- t26
  /** Incremental BM25 — day-2 maintenance of t20's retrieval index,
    * extending the day-2 family (q40 dims, q41 aggregates, q42
    * sketches, q48 graphs, s11/s20 ANN, d16 dedup) to the retrieval
    * index every RAG corpus keeps warm. The standing state IS what
    * t20's scaladoc says production maintains: the posting list
    * `(term, doc_id, tf)` BUCKETED BY TERM (the probe join's key),
    * the doc-length table, the per-term df table, and the 1-row
    * corpus stats. Day 1 (first call) builds all four from the old
    * docs (80% md5 coin); every later call explodes ONLY the new-doc
    * batch and scores against standing ∪ batch — the corpus text is
    * never re-read, and because old/new docs are disjoint every
    * global statistic merges by ADDITION (df per term, n_docs,
    * sum_dl): no read-modify-write races, the q42 idempotent-read
    * discipline (state stays day-1; the delta never persists, so the
    * call is idempotent and the oracle is t20's from-scratch SQL —
    * maintained-equals-rebuilt, q40's contract).
    *
    * Scale shape: the batch explode is batch-sized; the standing
    * posting scan is bucketed on `term` so the broadcast-query probe
    * join plans zero exchange on the postings side; df/dl merges are
    * index-metadata-sized aggregates (term- and doc-counts), never a
    * text scan. At 100 TB the daily cost is the new slice's explode
    * plus metadata folds — the from-scratch build is a one-time day-1
    * event. */
  /** The posting-list explode shared by t26's batch maintenance and
    * [[graft.streaming.StreamOps.streamingBm25Index]]'s online dual:
    * `(doc_id, term, tf)` term frequencies of a document frame. */
  private[graft] def bm25TfOf(m: DataFrame): DataFrame = {
    import m.sparkSession.implicits._
    m.select($"doc_id", explode(tokens($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
  }

  def t26Bm25Day2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val isNew = pmod(md5Long(concat($"doc_id".cast("string"), lit(":t26"))),
      lit(5L)) === 0L
    val postT = graft.sources.LayoutOps.stateTable("graft_state_t26_post", dir)
    val dlT = graft.sources.LayoutOps.stateTable("graft_state_t26_dl", dir)
    val dfT = graft.sources.LayoutOps.stateTable("graft_state_t26_df", dir)
    def tfOf(m: DataFrame): DataFrame = bm25TfOf(m)
    if (!spark.catalog.tableExists(postT) ||
        !spark.catalog.tableExists(dlT) ||
        !spark.catalog.tableExists(dfT)) {
      Seq(postT, dlT, dfT)
        .foreach(graft.sources.LayoutOps.clearStaleLocation(spark, _))
      val tfOld = tfOf(d.filter(!isNew))
      graft.sources.LayoutOps.writeBucketed(tfOld, postT, "term",
        graft.sources.LayoutOps.stateBuckets(spark))
      tfOld.groupBy($"doc_id").agg(sum($"tf").as("dl"))
        .write.mode("overwrite").format("parquet").saveAsTable(dlT)
      tfOld.groupBy($"term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").format("parquet").saveAsTable(dfT)
    }
    val tfNew = tfOf(d.filter(isNew))
    val dlNew = tfNew.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val tf = spark.table(postT).unionByName(tfNew)
    val dl = spark.table(dlT).unionByName(dlNew)
    // disjoint doc sets → every statistic folds by addition
    val dfx = spark.table(dfT)
      .unionByName(tfNew.groupBy($"term").agg(count(lit(1)).as("df")))
      .groupBy($"term").agg(sum($"df").as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
    val q = d.filter($"doc_id" < 3)
      .select($"doc_id".as("qid"),
        explode(slice(tokens($"text"), 1, 3)).as("term"))
      .filter($"term" =!= "").distinct()
    t20Bm25Score(tf, dl, dfx, stats, q)
  }

  // --------------------------------------------------------------- t27
  /** Exact corpus-wide heavy hitters: every word bigram covering at
    * least 0.1% of all bigram occurrences, with its exact count — the
    * boilerplate-phrase detector that feeds dedup (a bigram this hot
    * is template text) and tokenizer-merge candidates (BPE's first
    * merges are exactly the hottest adjacent pairs).
    *
    * The naive plan — groupBy over EVERY bigram occurrence — shuffles
    * the full n-gram key space, which at 100 TB is itself data-sized
    * (distinct n-grams grow with the corpus). The two-pass shape here
    * never shuffles the key space:
    *   1. Candidate sweep: one scan folds each partition into a
    *      [[graft.functions.MisraGriesAgg]] sketch (≤ 2k counters);
    *      partials merge to ONE sketch whose key set provably
    *      contains every item with frequency > N/(k+1). k = 4000 vs
    *      the 0.1% threshold = 4× guarantee margin. The same
    *      aggregate carries count(*) so N rides along for free.
    *   2. Exact recount: a second scan keeps only candidate bigrams
    *      (broadcast semi-join against the ≤ 2k-entry candidate list
    *      — provably metadata-sized, so the hint is safe by
    *      construction) and counts them exactly; the ≥ 0.1% filter
    *      on exact integer counts makes the final answer EXACT —
    *      hash-identical to the oracle's full groupBy, which is the
    *      point: sketch for the candidates, never for the answer. */
  private[operators] val T27K = 4000

  def t27HeavyBigrams(spark: SparkSession, dir: String): DataFrame =
    t27From(docs(spark, dir), T27K)

  /** Word bigram occurrences (NOT distinct — frequency semantics). */
  private def bigramsOf(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    d.select(tokens($"text").as("l"))
      .select(explode(when(size($"l") < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size($"l") - 1),
          i => concat_ws(" ", element_at($"l", i),
            element_at($"l", i + 1))))).as("g"))
  }

  /** [[t27HeavyBigrams]]'s core with the sketch width exposed so the
    * spec can stress the trim path and force width-invariance. */
  private[operators] def t27From(d: DataFrame, k: Int): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val mg = udaf(new graft.functions.MisraGriesAgg(k),
      org.apache.spark.sql.Encoders.STRING)
    val bi = bigramsOf(d)
    // pass 1: candidates + N in one scan
    val row = bi.agg(mg($"g").as("cands"), count(lit(1)).as("n")).first()
    val cands = row.getSeq[String](0)
    val total = row.getLong(1)
    // pass 2: exact recount of candidates only (≤ 2k keys)
    val candDf = cands.toDF("g")
    bi.join(broadcast(candDf), Seq("g"))
      .groupBy($"g").agg(count(lit(1)).as("n_occ"))
      .filter($"n_occ" * 1000 >= total)
      .orderBy($"n_occ".desc, $"g")
  }

  /** Full-shuffle truth arm — the oracle's plan; the spec forces it
    * identical to the sketch-guided two-pass at two sketch widths. */
  private[operators] def t27Naive(d: DataFrame): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val bi = bigramsOf(d).localCheckpoint()
    try {
      val total = bi.count()
      bi.groupBy($"g").agg(count(lit(1)).as("n_occ"))
        .filter($"n_occ" * 1000 >= total)
        .orderBy($"n_occ".desc, $"g")
        .localCheckpoint()
    } finally DedupOps.unpersistCheckpointed(bi)
  }

  val t27HeavyBigramsSql: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS l FROM documents),
      |bi AS (
      |  SELECT l[i] || ' ' || l[i+1] AS g
      |  FROM toks, unnest(generate_series(1, greatest(len(l) - 1, 0)))
      |    AS t(i)),
      |c AS (SELECT g, COUNT(*) AS n_occ FROM bi GROUP BY 1)
      |SELECT g, n_occ FROM c
      |WHERE n_occ * 1000 >= (SELECT COUNT(*) FROM bi)
      |ORDER BY n_occ DESC, g""".stripMargin

  // ---------------------------------------------------------------- t28
  /** Winnowed-fingerprint match pairs — substring-level plagiarism /
    * contamination detection between documents (Schleimer, Wilkerson,
    * Aiken, SIGMOD 2003: the MOSS scheme). Where t10/d19 score each
    * document's duplicated-shingle COVERAGE and d3/d11 compare whole
    * token SETS, t28 finds which document PAIRS share verbatim token
    * runs: two documents sharing ≥ [[T28Win]] + [[T28Gram]] − 1 = 8
    * consecutive tokens are GUARANTEED to share a fingerprint (the
    * shared gram window's minimum hash is selected on both sides — the
    * paper's theorem, preserved by the distinct-by-value selection in
    * [[graft.functions.WinnowHash60]]).
    *
    * Scale shape: the winnowing selection runs inside the native
    * expression (ordered gram md5s + monotonic-deque sliding minimum,
    * one pass per document), so only the ~1/w-density fingerprint
    * survivors ever explode — the join input is w× smaller than a
    * full shingle stream. Candidates are an equi-join on fingerprint
    * value with the d11/d22 df-cap ON BY DEFAULT: fingerprints in more
    * than [[T28FpCap]] documents (site boilerplate — exactly the runs
    * winnowing is most likely to select corpus-wide) are dropped from
    * the join and reported via the honest `n_capped_fps` column, so
    * the pair count stays linear under any skew. Pairs need ≥
    * [[T28MinShared]] shared fingerprints (one shared 8-token run is
    * ambient noise; two is signal). The oracle mirrors the whole
    * pipeline — positional grams via zipped unnests, the same window
    * minimum (`ROWS BETWEEN CURRENT ROW AND w−1 FOLLOWING`), the same
    * cap and threshold. */
  private[operators] val T28Gram = 4
  private[operators] val T28Win = 5
  private[operators] val T28FpCap = 50
  private[operators] val T28MinShared = 2

  def t28WinnowPairs(spark: SparkSession, dir: String): DataFrame =
    t28From(docs(spark, dir))

  /** t28 over any (doc_id, text) frame — planted guarantee/cap specs
    * and the plan guard enter here (`checkpoint = false` keeps the
    * plan inspectable, t10From's pattern). The fingerprint stream is
    * PERSISTED for the four consumers (df count, both pair-join
    * sides, hot count): without the cache the plan re-runs the
    * winnowing expression over the corpus 4× — four full scans where
    * one suffices at 100 TB. */
  private[operators] def t28From(docsDf: DataFrame,
      cap: Int = T28FpCap, checkpoint: Boolean = true): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val fp = docsDf.select($"doc_id",
        explode(expr(s"winnow_hashes(text, $T28Gram, $T28Win)")).as("fp"))
      .persist()
    try {
      // expression output is distinct per doc ⇒ count(*) IS document
      // frequency; the hot set is Zipf-tiny and broadcasts (d11's shape)
      val hot = fp.groupBy($"fp").agg(count(lit(1)).as("df"))
        .filter($"df" > cap).select($"fp")
      val kept = fp.join(broadcast(hot), Seq("fp"), "left_anti")
      val nHot = hot.agg(count(lit(1)).as("n_capped_fps"))
      val out = kept.as("a")
        .join(kept.hint("shuffle_hash").as("b"),
          $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= T28MinShared)
        .crossJoin(broadcast(nHot)) // one row — the honest cap report
        .orderBy($"i", $"j")
      // eager checkpoint: materialized before the unpersist
      if (checkpoint) out.localCheckpoint() else out
    } finally fp.unpersist(blocking = false)
  }

  val t28WinnowPairsSql: String = {
    val gram = (0 until T28Gram).map(o => s"toks[i+$o]")
      .mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    unnest(generate_series(1,
       |      greatest(len(toks) - ${T28Gram - 1}, 0))) AS i,
       |    unnest(list_transform(generate_series(1,
       |        greatest(len(toks) - ${T28Gram - 1}, 0)),
       |      i -> $gram)) AS gr
       |  FROM t),
       |h AS (SELECT doc_id, i, ${sqlMd5Long("gr")} AS h FROM g),
       |wm AS (
       |  SELECT doc_id, i,
       |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${T28Win - 1} FOLLOWING) AS fp,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM h),
       |fps AS (SELECT DISTINCT doc_id, fp FROM wm
       |        WHERE i <= ng - ${T28Win - 1}),
       |hot AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > $T28FpCap),
       |kept AS (SELECT f.* FROM fps f WHERE NOT EXISTS (
       |  SELECT 1 FROM hot x WHERE x.fp = f.fp)),
       |nhot AS (SELECT COUNT(*) AS n_capped_fps FROM hot)
       |SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS n_shared,
       |  nhot.n_capped_fps
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |CROSS JOIN nhot
       |GROUP BY 1, 2, nhot.n_capped_fps
       |HAVING COUNT(*) >= $T28MinShared
       |ORDER BY i, j""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_token_stats"  -> (t1TokenStats _),
    "t2_lang_profile" -> (t2LangProfile _),
    "t3_quality"      -> (t3QualityScore _),
    "t4_fingerprint"  -> (t4Fingerprint _),
    "t5_langid"       -> (t5LangId _),
    "t6_polyhash"     -> (t6PolyHash _),
    "t7_zipf_terms"   -> (t7ZipfTerms _),
    "t8_tfidf"        -> (t8Tfidf _),
    "t9_repetition"   -> (t9Repetition _),
    "t10_corpus_shingles" -> (t10CorpusShingles _),
    "t11_decontaminate" -> (t11Decontaminate _),
    "t12_subword_tokens" -> (t12SubwordTokens _),
    "t13_familiarity" -> (t13Familiarity _),
    "t14_pii_scrub"   -> (t14PiiScrub _),
    "t15_gopher_rules" -> (t15GopherRules _),
    "t16_source_profile" -> (t16SourceProfile _),
    "t17_hashed_classifier" -> (t17HashedClassifier _),
    "t18_bpe_merges"  -> (t18BpeMerges _),
    "t19_lm_surprise" -> (t19LmSurprise _),
    "t20_bm25"        -> (t20Bm25 _),
    "t21_source_similarity" -> (t21SourceSimilarity _),
    "t22_lang_confusion" -> (t22LangConfusion _),
    "t23_overlap_risk" -> (t23OverlapRisk _),
    "t24_quality_drift" -> (t24QualityDrift _),
    "t25_lm_surprise_hashed" -> (t25LmSurpriseHashed _),
    "t26_bm25_day2" -> (t26Bm25Day2 _),
    "t27_heavy_bigrams" -> (t27HeavyBigrams _),
    "t28_winnow_pairs" -> (t28WinnowPairs _),
  )

  def oracles: Map[String, String] = Map(
    "t1_token_stats"  -> t1TokenStatsSql,
    "t2_lang_profile" -> t2LangProfileSql,
    "t3_quality"      -> t3QualityScoreSql,
    "t4_fingerprint"  -> t4FingerprintSql,
    "t5_langid"       -> t5LangIdSql,
    "t6_polyhash"     -> t6PolyHashSql,
    "t7_zipf_terms"   -> t7ZipfTermsSql,
    "t8_tfidf"        -> t8TfidfSql,
    "t9_repetition"   -> t9RepetitionSql,
    "t10_corpus_shingles" -> t10CorpusShinglesSql,
    "t11_decontaminate" -> t11DecontaminateSql,
    "t12_subword_tokens" -> t12SubwordTokensSql,
    "t13_familiarity" -> t13FamiliaritySql,
    "t14_pii_scrub"   -> t14PiiScrubSql,
    "t15_gopher_rules" -> t15GopherRulesSql,
    "t16_source_profile" -> t16SourceProfileSql,
    "t17_hashed_classifier" -> t17HashedClassifierSql,
    "t18_bpe_merges"  -> t18BpeMergesSql,
    "t19_lm_surprise" -> t19LmSurpriseSql,
    "t20_bm25"        -> t20Bm25Sql,
    "t21_source_similarity" -> t21SourceSimilaritySql,
    "t22_lang_confusion" -> t22LangConfusionSql,
    "t23_overlap_risk" -> t23OverlapRiskSql,
    "t24_quality_drift" -> t24QualityDriftSql,
    "t25_lm_surprise_hashed" -> t25LmSurpriseHashedSql,
    // maintained index must equal the from-scratch build (q40's
    // contract): the oracle IS t20's SQL
    "t26_bm25_day2" -> t20Bm25Sql,
    "t27_heavy_bigrams" -> t27HeavyBigramsSql,
    "t28_winnow_pairs" -> t28WinnowPairsSql,
  )
}
