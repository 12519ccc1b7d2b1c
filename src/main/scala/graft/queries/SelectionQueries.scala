package graft.queries

import graft.{Q, Tables => T}
import graft.functions.TextFunctions.{shingles, tokens}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-based data SELECTION — the step between "clean corpus" and "the
  * subset worth training on". Two literature-anchored shapes:
  *
  *  - DSIR importance resampling (Xie et al. 2023, "Data Selection for
  *    Language Models via Importance Resampling"): hashed-bigram LMs of a
  *    small TARGET corpus vs the RAW pool give each document an importance
  *    weight p_target/p_raw; documents are kept by a weight-proportional
  *    deterministic draw. This is how a 100 TB crawl gets tilted toward
  *    "looks like Wikipedia" without a neural scorer.
  *  - Naive-Bayes quality-classifier TRAINING + scoring (the
  *    classifier-filter loop of GPT-3/CCNet-era pipelines; the repo's
  *    `quality_classifier` query is the fixed-weight INFERENCE half — this
  *    pair learns the weights from labeled data instead).
  *
  * Reference analog: none (the reference curates per-message; these are
  * corpus-level curation extensions). Scale design: every model here is a
  * FIXED-SIZE hashed table (256 bigram buckets / 4096 token buckets) built
  * by one conditional-aggregation pass over the corpus — the shuffle is
  * bucket-count-bounded, the table collects to the driver like the IVF
  * centroids do (a few KB regardless of corpus size), and scoring is
  * row-local whole-stage-codegen arithmetic over a broadcast literal
  * array. No per-row joins, no driver-side loops over data rows.
  *
  * Parity policy (same as the rest of the registry): counts are exact
  * integers; probabilities/ratios are IEEE-754 doubles derived from those
  * integers by identical operation sequences on both engines; per-document
  * scores are SEQUENTIAL left-to-right product folds over the document's
  * own (order-pinned, capped) feature list — Spark `aggregate` and DuckDB
  * `list_reduce(list_prepend(init, …))` execute the same fold, so raw
  * doubles hash-match. Transcendentals (log/exp/pow) are avoided entirely:
  * they are NOT bit-portable across libm implementations.
  */
object SelectionQueries {
  import TextOpsQueries.{ToksSql, shinglesSql}

  /** Hashed-bigram LM bucket count (DSIR). Small on purpose: DSIR's
    * published configuration hashes into 10k buckets at web scale; the
    * fixture-scale statistics need denser occupancy for the ratios to
    * carry signal. */
  private val BigramBuckets = 256
  /** Hashed unigram vocabulary for the NB classifier — same 4096-way md5
    * bucketing as the `quality_classifier` inference featurizer. */
  private val TokenBuckets = 4096
  /** Per-document feature cap: the score folds over the FIRST `FeatCap`
    * features only, bounding both the fold length and the product's
    * dynamic range (ratio bounds ^ 48 stays far inside double range). */
  private val FeatCap = 48

  private def bigramBucket(g: Column): Column =
    conv(substring(md5(g), 1, 2), 16, 10).cast("long")
  private def tokenBucket(t: Column): Column =
    conv(substring(md5(t), 1, 3), 16, 10).cast("long")
  private val bigramBucketSql = (g: String) =>
    s"CAST(('0x' || substr(md5($g), 1, 2)) AS BIGINT)"
  private val tokenBucketSql = (t: String) =>
    s"CAST(('0x' || substr(md5($t), 1, 3)) AS BIGINT)"

  /** Valid 2-shingles of a document, order preserved, capped at FeatCap.
    * (shingles() emits the whole doc as one "shingle" for 1-token docs;
    * the length filter drops it, matching the bigram-LM queries.) */
  private def bigramsCapped(text: Column): Column =
    slice(filter(shingles(tokens(text), 2),
      g => size(split(g, " ")) === 2), 1, FeatCap)
  private def bigramsCappedSql: String =
    s"list_filter(${shinglesSql(ToksSql, 2)}, x -> len(string_split(x, ' ')) = 2)[1:$FeatCap]"

  /** Tercile cut fractions for the CCNet band pair — the SAME Scala
    * doubles are printed into both the Spark `percentile` literal and the
    * DuckDB `quantile_cont` literal, so both engines interpolate against
    * bit-identical fractions. */
  private val CcnetCutFracs: String =
    Seq(1.0 / 3.0, 2.0 / 3.0).mkString(",")

  /** Shared scoring stage of the select_ccnet_band pair: each scorable
    * document's corpus-common bigram fraction (the text_lm_quality
    * signal — an integer ratio, no logs). Docs with no valid bigram
    * (single-token) are unscorable and excluded on both engines. */
  private[queries] def ccnetScored(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val grams = T.documentsSpread(s, dir)
      .select(col("doc_id"), col("lang"),
        // the gram travels as its xxhash64 — the cache row, the count-agg
        // key, and the join key are 8-byte longs instead of ~13-char
        // strings (the dedup_ngram_jaccard narrow-key argument: counts
        // are hash-collision-exact at ~m²/2⁻⁶⁵, far below the oracle's
        // resolution; the string-gram DuckDB twin hash-matches unchanged)
        explode(filter(shingles(tokens(col("text")), 2),
          g => size(split(g, " ")) === 2)).as("gs"))
      .select(col("doc_id"), col("lang"), xxhash64(col("gs")).as("g"))
      // feeds the corpus gram-count build AND the scoring stream — persist
      // so the scan+tokenize+shingle pass runs once, not once per branch
      .persist()
    val pair = grams.groupBy(col("g")).agg(count(lit(1)).as("c_g"))
    grams.join(pair, Seq("g"))
      .groupBy(col("doc_id"), col("lang"))
      .agg((sum(when(col("c_g") >= 3L, 1L).otherwise(0L)).cast("double")
        / count(lit(1)).cast("double")).as("score"))
  }

  /** DuckDB CTE chain mirroring [[ccnetScored]]; terminal CTE is
    * `scored(doc_id, lang, score)`. */
  private val CcnetScoredSqlCtes: String =
    s"""grams AS (
       |  SELECT doc_id, lang, g FROM (
       |    SELECT doc_id, lang, unnest(${shinglesSql(ToksSql, 2)}) AS g
       |    FROM documents)
       |  WHERE len(string_split(g, ' ')) = 2),
       |pair AS (SELECT g, COUNT(*) AS c_g FROM grams GROUP BY g),
       |scored AS (
       |  SELECT doc_id, lang,
       |    CAST(SUM(CASE WHEN c_g >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS score
       |  FROM grams JOIN pair USING (g) GROUP BY doc_id, lang)""".stripMargin

  /** Deterministic uniform draw in [0,1): the top 52 bits of
    * md5("dsir|"+doc_id) over 2^52 — exact in a double, no RNG state. */
  private def uniformDraw(id: Column): Column =
    conv(substring(md5(concat(lit("dsir|"), id.cast("string"))), 1, 13), 16, 10)
      .cast("long").cast("double") / lit(4503599627370496.0)
  private val uniformDrawSql =
    "CAST(CAST(('0x' || substr(md5('dsir|' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE) / 4503599627370496.0"

  val all: Seq[(String, Q)] = Seq(

    "select_dsir" -> Q(
      "DSIR importance resampling (Xie et al. 2023): hashed-bigram LMs of the target slice (source=src0) vs the raw pool give each doc weight p_tgt/p_raw (sequential product fold over its first 48 bigrams, Laplace-smoothed 256-bucket tables); docs kept by the deterministic weight-proportional draw u·max_w < w — one conditional-agg pass builds both LMs, the ratio table broadcasts as a literal, scoring is row-local",
      (s, dir) => {
        val docs = T.documentsSpread(s, dir)
        // ONE corpus pass builds both LMs: raw counts every valid bigram,
        // target counts the source='src0' slice via conditional agg. The
        // result is ≤256 rows — a driver boundary identical in kind to
        // the IVF centroid collect (fixed size, corpus-independent).
        val counts = docs
          .select(col("source"), explode(filter(shingles(tokens(col("text")), 2),
            g => size(split(g, " ")) === 2)).as("g"))
          .groupBy(bigramBucket(col("g")).as("bucket"))
          .agg(count(lit(1)).as("c_raw"),
            sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c_tgt"))
          .collect()
        val cRaw = new Array[Long](BigramBuckets)
        val cTgt = new Array[Long](BigramBuckets)
        counts.foreach { r =>
          val b = r.getLong(0).toInt
          cRaw(b) = r.getLong(1); cTgt(b) = r.getLong(2)
        }
        val tRaw = cRaw.sum; val tTgt = cTgt.sum
        // Laplace-smoothed ratio per bucket — the exact op sequence the
        // oracle repeats: ((c+1)/(t+B)) / ((c+1)/(t+B)), all binary64.
        val ratios: Seq[Double] = (0 until BigramBuckets).map { b =>
          ((cTgt(b) + 1).toDouble / (tTgt + BigramBuckets).toDouble) /
            ((cRaw(b) + 1).toDouble / (tRaw + BigramBuckets).toDouble)
        }
        val ratioLit = typedlit(ratios)
        val weighted = docs.select(col("doc_id"), col("source"),
          aggregate(
            transform(bigramsCapped(col("text")),
              g => element_at(ratioLit, (bigramBucket(g) + lit(1L)).cast("int"))),
            lit(1.0), (acc, x) => acc * x).as("weight"),
          uniformDraw(col("doc_id")).as("u"))
          // persisted (r15): the weight fold hashes up to 48 bigrams per
          // document (md5 per bigram), and BOTH the max_w aggregate and
          // the output stream consume it — unpersisted, the fold ran
          // twice per materialization. The cache is 4 narrow columns per
          // doc; recompute costs ~50 md5 calls per row, so cache-write <
          // recompute at any scale (unlike the tf-table negative result
          // recorded on text_tfidf).
          .persist()
        // Exact global max = one scalar-aggregate branch; keep-rule
        // u·max_w < w is rejection sampling ∝ weight with zero sampler
        // state. Multiplication, not division: same exact-ops rule.
        val maxW = weighted.agg(max(col("weight")).as("max_w"))
        // Two selection surfaces from one weight column:
        //  - keep: rejection draw u·max_w < w — sampling ∝ w with zero
        //    sampler state (MAX is the one order-independent cross-row
        //    double reduction, so the rule stays bit-portable; a heavy
        //    weight tail makes this sparse by construction);
        //  - keep_topk: rank ≤ 5 within SOURCE by weight — the balanced
        //    per-domain selection DSIR deployments actually ship, and a
        //    bounded-partition window (same scale shape as
        //    select_token_budget: partitions = sources, never global).
        val wSrc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("weight").desc, col("doc_id"))
        weighted.crossJoin(broadcast(maxW))
          .withColumn("src_rank", row_number().over(wSrc).cast("long"))
          .select(col("doc_id"), col("weight"),
            (col("u") * col("max_w") < col("weight")).as("keep"),
            col("src_rank"), (col("src_rank") <= 5L).as("keep_topk"))
          .orderBy(col("doc_id"))
      },
      s"""WITH grams AS (
         |  SELECT source, ${bigramBucketSql("g")} AS bucket
         |  FROM (SELECT source, unnest(${shinglesSql(ToksSql, 2)}) AS g FROM documents)
         |  WHERE len(string_split(g, ' ')) = 2),
         |cnt AS (
         |  SELECT bucket, COUNT(*) AS c_raw,
         |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_tgt
         |  FROM grams GROUP BY bucket),
         |tot AS (SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM cnt),
         |ratios AS (
         |  SELECT list(
         |      ((COALESCE(c.c_tgt, 0) + 1)::DOUBLE / (t.t_tgt + $BigramBuckets)::DOUBLE)
         |      / ((COALESCE(c.c_raw, 0) + 1)::DOUBLE / (t.t_raw + $BigramBuckets)::DOUBLE)
         |      ORDER BY r.range) AS rl
         |  FROM range($BigramBuckets) r LEFT JOIN cnt c ON c.bucket = r.range, tot t),
         |w AS (
         |  SELECT doc_id, source,
         |    list_reduce(list_prepend(1.0::DOUBLE,
         |      list_transform(
         |        list_transform($bigramsCappedSql, g -> ${bigramBucketSql("g")}),
         |        bb -> rl[CAST(bb + 1 AS INT)])), (a, b) -> a * b) AS weight,
         |    $uniformDrawSql AS u
         |  FROM documents, ratios),
         |m AS (SELECT MAX(weight) AS max_w FROM w),
         |r2 AS (
         |  SELECT doc_id, weight, u,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY weight DESC, doc_id) AS BIGINT) AS src_rank
         |  FROM w)
         |SELECT doc_id, weight, (u * max_w < weight) AS keep,
         |  src_rank, (src_rank <= 5) AS keep_topk
         |FROM r2, m ORDER BY doc_id""".stripMargin),

    "classifier_nb_train" -> Q(
      "Naive-Bayes quality-classifier TRAINING (the learn half of the quality_classifier inference featurizer): one conditional-agg pass over the token stream counts each 4096-way md5 bucket under lang=en vs rest; emitted model row = bucket, class counts, Laplace-smoothed likelihood ratio — the trained filter table a curation pipeline broadcasts to every executor",
      (s, dir) => {
        val docs = T.documentsSpread(s, dir)
        // persisted (r15): the ≤4096-row bucket table is consumed by the
        // totals aggregate AND the output stream — unpersisted, the
        // broadcast build of `tots` re-ran the full corpus token
        // explode+agg below the crossJoin (two corpus passes per run).
        // The totals are a 1-row scalar, so they come back driver-side
        // (the report_drift cursor pattern): the scalar job fills the
        // cache first, and the totals enter the division as the same
        // long-addition-then-cast the column form produced — identical
        // binary64 arithmetic, one fewer broadcast exchange.
        val counts = docs
          .select(col("lang"), explode(tokens(col("text"))).as("t"))
          .groupBy(tokenBucket(col("t")).as("bucket"))
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_pos"),
            sum(when(col("lang") === "en", 0L).otherwise(1L)).as("c_neg"))
          .persist()
        val tr = counts.agg(sum(col("c_pos")), sum(col("c_neg"))).head()
        val tPos = if (tr.isNullAt(0)) 0L else tr.getLong(0)
        val tNeg = if (tr.isNullAt(1)) 0L else tr.getLong(1)
        counts
          .select(col("bucket"), col("c_pos"), col("c_neg"),
            (((col("c_pos") + 1L).cast("double") / lit(tPos + TokenBuckets.toLong).cast("double"))
              / ((col("c_neg") + 1L).cast("double") / lit(tNeg + TokenBuckets.toLong).cast("double")))
              .as("ratio"))
          .orderBy(col("bucket"))
      },
      s"""WITH cnt AS (
         |  SELECT ${tokenBucketSql("t")} AS bucket,
         |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_pos,
         |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS c_neg
         |  FROM (SELECT lang, unnest($ToksSql) AS t FROM documents)
         |  GROUP BY bucket),
         |tot AS (SELECT SUM(c_pos) AS t_pos, SUM(c_neg) AS t_neg FROM cnt)
         |SELECT bucket, CAST(c_pos AS BIGINT) AS c_pos, CAST(c_neg AS BIGINT) AS c_neg,
         |  ((c_pos + 1)::DOUBLE / (t_pos + $TokenBuckets)::DOUBLE)
         |    / ((c_neg + 1)::DOUBLE / (t_neg + $TokenBuckets)::DOUBLE) AS ratio
         |FROM cnt, tot ORDER BY bucket""".stripMargin),

    "classifier_nb_score" -> Q(
      "Naive-Bayes classifier train→score composite: the trained 4096-bucket likelihood-ratio table (built by the classifier_nb_train pass, collected like the IVF centroids and broadcast as a literal array) scores every document row-locally — doc-count prior × sequential ratio product over its first 48 tokens; predicted = score > 1. The full classifier-curation loop with zero per-row joins",
      (s, dir) => {
        val docs = T.documentsSpread(s, dir)
        val counts = docs
          .select(col("lang"), explode(tokens(col("text"))).as("t"))
          .groupBy(tokenBucket(col("t")).as("bucket"))
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_pos"),
            sum(when(col("lang") === "en", 0L).otherwise(1L)).as("c_neg"))
          .collect()
        val cPos = new Array[Long](TokenBuckets)
        val cNeg = new Array[Long](TokenBuckets)
        counts.foreach { r =>
          val b = r.getLong(0).toInt
          cPos(b) = r.getLong(1); cNeg(b) = r.getLong(2)
        }
        val tPos = cPos.sum; val tNeg = cNeg.sum
        val ratios: Seq[Double] = (0 until TokenBuckets).map { b =>
          ((cPos(b) + 1).toDouble / (tPos + TokenBuckets).toDouble) /
            ((cNeg(b) + 1).toDouble / (tNeg + TokenBuckets).toDouble)
        }
        val nd = docs.agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nd_pos"),
          sum(when(col("lang") === "en", 0L).otherwise(1L)).as("nd_neg"))
          .head()
        val prior = (nd.getLong(0) + 1).toDouble / (nd.getLong(1) + 1).toDouble
        val ratioLit = typedlit(ratios)
        docs.select(col("doc_id"),
          aggregate(
            transform(slice(tokens(col("text")), 1, FeatCap),
              t => element_at(ratioLit, (tokenBucket(t) + lit(1L)).cast("int"))),
            lit(prior), (acc, x) => acc * x).as("score"),
          (col("lang") === "en").as("actual"))
          .withColumn("predicted", col("score") > 1.0)
          .select("doc_id", "score", "predicted", "actual")
          .orderBy(col("doc_id"))
      },
      s"""WITH cnt AS (
         |  SELECT ${tokenBucketSql("t")} AS bucket,
         |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_pos,
         |    SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS c_neg
         |  FROM (SELECT lang, unnest($ToksSql) AS t FROM documents)
         |  GROUP BY bucket),
         |tot AS (SELECT SUM(c_pos) AS t_pos, SUM(c_neg) AS t_neg FROM cnt),
         |ratios AS (
         |  SELECT list(
         |      ((COALESCE(c.c_pos, 0) + 1)::DOUBLE / (t.t_pos + $TokenBuckets)::DOUBLE)
         |      / ((COALESCE(c.c_neg, 0) + 1)::DOUBLE / (t.t_neg + $TokenBuckets)::DOUBLE)
         |      ORDER BY r.range) AS rl
         |  FROM range($TokenBuckets) r LEFT JOIN cnt c ON c.bucket = r.range, tot t),
         |prior AS (
         |  SELECT (SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1)::DOUBLE
         |       / (SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) + 1)::DOUBLE AS p
         |  FROM documents)
         |SELECT doc_id,
         |  list_reduce(list_prepend(p,
         |    list_transform($ToksSql[1:$FeatCap],
         |      t -> rl[CAST(${tokenBucketSql("t")} + 1 AS INT)])), (a, b) -> a * b) AS score,
         |  list_reduce(list_prepend(p,
         |    list_transform($ToksSql[1:$FeatCap],
         |      t -> rl[CAST(${tokenBucketSql("t")} + 1 AS INT)])), (a, b) -> a * b) > 1.0 AS predicted,
         |  (lang = 'en') AS actual
         |FROM documents, ratios, prior ORDER BY doc_id""".stripMargin),

    "mix_epochs" -> Q(
      "Epoch-based mixture upsampling (the dataset-mixing dual of mix_weighted's down-sampling): high-value source groups repeat for 4/2/1 epochs (source md5-bucket → epoch count), each repeat emitted row-locally via sequence+explode with a deterministic md5 training-order key — the 'wiki ×4 epochs, crawl ×1' replication step a mixture config compiles to, generated inside the scan with no join and no shuffle beyond the final sort",
      (s, dir) => {
        // epoch count from the source's md5 bucket: 3 groups → 4/2/1.
        // Row-local conv+md5 (the mix_weighted convention), so the
        // "mixture config" needs no side table at all.
        val grp = conv(substring(md5(col("source")), 1, 2), 16, 10)
          .cast("long") % 3L
        val epochs = when(grp === 0L, 4L).when(grp === 1L, 2L).otherwise(1L)
        T.documentsSpread(s, dir)
          .select(col("doc_id"), col("source"), epochs.as("n_epochs"))
          .select(col("doc_id"), col("source"), col("n_epochs"),
            explode(sequence(lit(1L), col("n_epochs"))).as("epoch"))
          .withColumn("order_key",
            md5(concat(col("doc_id").cast("string"), lit("|"),
              col("epoch").cast("string"))))
          .orderBy(col("doc_id"), col("epoch"))
      },
      """WITH e AS (
        |  SELECT doc_id, source,
        |    CASE (CAST(('0x' || substr(md5(source), 1, 2)) AS BIGINT) % 3)
        |      WHEN 0 THEN 4 WHEN 1 THEN 2 ELSE 1 END AS n_epochs
        |  FROM documents)
        |SELECT doc_id, source, CAST(n_epochs AS BIGINT) AS n_epochs,
        |  CAST(epoch AS BIGINT) AS epoch,
        |  md5(CAST(doc_id AS VARCHAR) || '|' || CAST(epoch AS VARCHAR)) AS order_key
        |FROM (SELECT doc_id, source, n_epochs, unnest(range(1, n_epochs + 1)) AS epoch FROM e)
        |ORDER BY doc_id, epoch""".stripMargin),

    "order_curriculum" -> Q(
      "Curriculum training order: documents ranked easy→hard (n_chars proxy) WITHIN each source, then round-robin interleaved across sources via pure arithmetic — global_pos = (src_rank-1)·n_sources + src_idx. Every window is bounded (per-source rank; source-index rank over the distinct-source table), so the curriculum for a 100 TB corpus needs no global sort of documents — the priority key comes out of arithmetic, and only the trainer's shard reader ever orders by it",
      (s, dir) => {
        val docs = T.documentsSpread(s, dir)
        // source index: a window over the DISTINCT sources only (a
        // bounded table — corpora have dozens of sources, not billions),
        // broadcast back onto the corpus.
        val wSrc = org.apache.spark.sql.expressions.Window
          .orderBy(col("source"))
        val srcIdx = docs.select(col("source")).distinct()
          .select(col("source"), row_number().over(wSrc).cast("long").as("src_idx"))
        val nSrc = srcIdx.agg(count(lit(1)).as("n_src"))
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))
        docs.select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("src_rank", row_number().over(wRank).cast("long"))
          .join(broadcast(srcIdx), Seq("source"))
          .crossJoin(broadcast(nSrc))
          .select(col("doc_id"), col("source"), col("src_rank"),
            ((col("src_rank") - 1L) * col("n_src") + col("src_idx") - 1L)
              .as("global_pos"))
          .orderBy(col("global_pos"), col("doc_id"))
      },
      """WITH si AS (
        |  SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_idx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT COUNT(*) AS n_src FROM si),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS src_rank
        |  FROM documents)
        |SELECT r.doc_id, r.source, r.src_rank,
        |  (r.src_rank - 1) * n.n_src + si.src_idx - 1 AS global_pos
        |FROM r JOIN si USING (source), n
        |ORDER BY global_pos, doc_id""".stripMargin),

    "report_source_overlap" -> Q(
      "Cross-source duplication matrix: LSH-verified near-dup pairs attributed to their (source, source) cell — the sourcing report that answers 'how much of corpus A is already inside corpus B' before paying to ingest A. Pair sides order canonically (least/greatest) so the matrix is upper-triangular; counts ride the ids-only pair stream from the shared LSH stage",
      (s, dir) => {
        // The pair stream is near-dup-sized (≪ corpus); each id→source
        // attribution is one equi-join against the corpus id→source map.
        // At 100 TB, carry `source` through the LSH stage instead of
        // re-joining (the stage tuple already ships doc ids; one more
        // dictionary-encoded column is cheaper than two corpus joins) —
        // here the re-join keeps the shared-stage reuse.
        val pairs = TextOpsQueries.lshNearDupPairs(s, dir)
          .select(col("a_id"), col("b_id"))
        val src = T.documentsSpread(s, dir).select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("a_id"), col("source").as("src_a")),
            Seq("a_id"))
          .join(src.select(col("doc_id").as("b_id"), col("source").as("src_b")),
            Seq("b_id"))
          .select(least(col("src_a"), col("src_b")).as("source_1"),
            greatest(col("src_a"), col("src_b")).as("source_2"))
          .groupBy(col("source_1"), col("source_2"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("source_1"), col("source_2"))
      },
      s"""WITH ${TextOpsQueries.LshPairsSqlCtes},
         |m AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_1,
         |  greatest(sa.source, sb.source) AS source_2,
         |  COUNT(*) AS n_pairs
         |FROM pairs p
         |JOIN m sa ON sa.doc_id = p.a_id
         |JOIN m sb ON sb.doc_id = p.b_id
         |GROUP BY source_1, source_2
         |ORDER BY n_pairs DESC, source_1, source_2""".stripMargin),

    "mix_temperature" -> Q(
      "Temperature-flattened language mixture (α=0.5): per-language sampling weight ∝ n^α — the multilingual rebalancing rule (upsample rare languages, damp the head) used when a flat target mixture is too aggressive. Emits weight, expected docs per epoch, and the per-doc sampling rate the shard reader applies. All math is sqrt/÷ over exact counts in a DETERMINISTIC lang-ordered fold, so the doubles hash-match the oracle bit-for-bit",
      (s, dir) => {
        // The language table is tiny (dozens of rows at any corpus size):
        // one count aggregation over the corpus, then the normalizer is a
        // left-to-right fold over the lang-sorted count list — pinned
        // order because a distributed double sum's partial order is not
        // reproducible, and this table broadcasts everywhere downstream.
        val counts = T.documentsSpread(s, dir)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val zrow = counts.agg(
          aggregate(
            sort_array(collect_list(struct(col("lang"), col("n_docs")))),
            lit(0.0),
            (acc, x) => acc + sqrt(x.getField("n_docs").cast("double")))
            .as("z"),
          sum(col("n_docs")).as("total"))
        val w = sqrt(col("n_docs").cast("double")) / col("z")
        counts.crossJoin(broadcast(zrow))
          .select(col("lang"), col("n_docs"),
            w.as("weight"),
            (w * col("total").cast("double")).as("expected_docs"),
            (w * col("total").cast("double") / col("n_docs").cast("double"))
              .as("rate"))
          .orderBy(col("lang"))
      },
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |z AS (
        |  SELECT
        |    list_reduce(list_prepend(0.0,
        |      list_transform(list(n_docs ORDER BY lang),
        |        n -> sqrt(CAST(n AS DOUBLE)))),
        |      (acc, x) -> acc + x) AS z,
        |    CAST(SUM(n_docs) AS BIGINT) AS total
        |  FROM c)
        |SELECT lang, n_docs,
        |  sqrt(CAST(n_docs AS DOUBLE)) / z.z AS weight,
        |  sqrt(CAST(n_docs AS DOUBLE)) / z.z * CAST(z.total AS DOUBLE) AS expected_docs,
        |  sqrt(CAST(n_docs AS DOUBLE)) / z.z * CAST(z.total AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE) AS rate
        |FROM c, z ORDER BY lang""".stripMargin),

    "mix_cluster_budget" -> Q(
      "Temperature-flattened SEMANTIC mixture (α=0.5): the mix_temperature dial keyed by k-means cluster instead of language — per-cluster token budgets ∝ sqrt(cluster token mass), the DataComp/SemDeDup-style rebalancing that damps the dominant semantic cluster and upsamples rare ones even when language and source mixtures look flat (doc_id ≡ vec_id joins the embedding clustering onto the text token counts). The cluster table is k rows: one kmeans fit + one corpus token aggregation, then a pinned cluster-ordered sqrt fold for the normalizer — sqrt/÷ on exact integer counts only, so the doubles hash-match DuckDB through the whole unrolled Lloyd + join + fold chain",
      (s, dir) => {
        import graft.operators.KmeansOps
        val emb = T.embeddings(s, dir)
          .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
        val assigned = KmeansOps
          .fit(emb, "vec_id", "embedding", dim = 64, k = 8, rounds = 2)._1
          .select(col("vec_id").as("doc_id"), col("cluster"))
        // persisted (Q contract: builders may persist, callers clear):
        // both the normalizer fold and the final projection read this
        // k-row table — without it each branch re-runs the assignment
        // scan and the token-count join (the embed_drift cells argument)
        val counts = T.documentsSpread(s, dir)
          .select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text")).as("nt"))
          .join(assigned, Seq("doc_id"))
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
          .persist()
        val zrow = counts.agg(
          aggregate(
            sort_array(collect_list(struct(col("cluster"), col("n_tokens")))),
            lit(0.0),
            (acc, x) => acc + sqrt(x.getField("n_tokens").cast("double")))
            .as("z"),
          sum(col("n_tokens")).as("total"))
        val w = sqrt(col("n_tokens").cast("double")) / col("z")
        counts.crossJoin(broadcast(zrow))
          .select(col("cluster"), col("n_docs"), col("n_tokens"),
            w.as("weight"),
            (w * col("total").cast("double")).as("expected_tokens"),
            (w * col("total").cast("double") / col("n_tokens").cast("double"))
              .as("rate"))
          .orderBy(col("cluster"))
      },
      s"""WITH ${VectorSearchQueries.kmeansCtes},
        |tc AS (
        |  SELECT a2.cluster, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens
        |  FROM a2 JOIN documents d ON d.doc_id = a2.vec_id
        |  GROUP BY a2.cluster),
        |z AS (
        |  SELECT
        |    list_reduce(list_prepend(0.0,
        |      list_transform(list(n_tokens ORDER BY cluster),
        |        n -> sqrt(CAST(n AS DOUBLE)))),
        |      (acc, x) -> acc + x) AS z,
        |    CAST(SUM(n_tokens) AS BIGINT) AS total
        |  FROM tc)
        |SELECT cluster, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
        |  sqrt(CAST(n_tokens AS DOUBLE)) / z.z AS weight,
        |  sqrt(CAST(n_tokens AS DOUBLE)) / z.z * CAST(z.total AS DOUBLE)
        |    AS expected_tokens,
        |  sqrt(CAST(n_tokens AS DOUBLE)) / z.z * CAST(z.total AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE) AS rate
        |FROM tc, z ORDER BY cluster""".stripMargin),

    "select_soft_dedup" -> Q(
      "Soft dedup: instead of hard-dropping near-dup cluster members, weight every document by 1/cluster_size for weighted sampling at training time (the SoftDeDup trade — duplicated content contributes ONE document's worth of expected gradient mass without discarding whichever copy a hard keep-rule would). Singletons weigh 1; weights ride the same CC labels as the hard-dedup path",
      (s, dir) => {
        // Cluster sizes aggregate over the near-dup-sized label table
        // (≪ corpus); the corpus-side cost is one left join on doc_id and
        // a row-local division — the cheapest possible reweighting at
        // 100 TB, and the weight column is exactly what a weighted
        // shard-sampler consumes.
        val cc = graft.operators.ConnectedComponents
          .resolve(TextOpsQueries.lshNearDupPairs(s, dir))
        val sizes = cc.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_members"))
        val mem = cc.select(col("doc_id"), col("cluster_id"))
          .join(sizes, Seq("cluster_id"))
          .select(col("doc_id"), col("n_members"))
        T.documentsSpread(s, dir).select(col("doc_id"))
          .join(mem, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (lit(1.0) / coalesce(col("n_members"), lit(1L)).cast("double"))
              .as("weight"))
          .orderBy(col("doc_id"))
      },
      s"""WITH RECURSIVE ${TextOpsQueries.LshPairsSqlCtes},
         |${PipelineQueries.CcSqlCtes},
         |sizes AS (SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY cluster_id),
         |mem AS (
         |  SELECT c.id AS doc_id, s.n FROM comp c JOIN sizes s USING (cluster_id))
         |SELECT d.doc_id,
         |  CAST(1.0 AS DOUBLE) / CAST(COALESCE(m.n, 1) AS DOUBLE) AS weight
         |FROM documents d LEFT JOIN mem m ON m.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    "select_stratified" -> Q(
      "Stratified hash-Bernoulli sampling: per-language keep rates applied by a deterministic md5 bucket of doc_id — the rebalancing draw that tilts an en-dominated crawl toward the target language mixture WITHOUT a shuffle: the keep decision is row-local (no per-stratum window, no global count), so sampling 100 TB is a pure scan+filter whose output rates concentrate tightly around the configured per-stratum targets",
      (s, dir) => {
        // Integer bucket thresholds (rate × 256) keep the comparison
        // exact on both engines; en is downsampled to ~35%, every other
        // language kept whole. Exact-k-per-stratum needs a per-stratum
        // rank (a shuffle); rate-based is the form that scales and is
        // what mixture rebalancing actually wants — rates, not counts.
        val bucket = conv(
          substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int")
        val thr = when(col("lang") === "en", lit(90)).otherwise(lit(256))
        T.documentsSpread(s, dir)
          .select(col("doc_id"), col("lang"), col("source"))
          .filter(bucket < thr)
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT)
        |  < CASE WHEN lang = 'en' THEN 90 ELSE 256 END
        |ORDER BY doc_id""".stripMargin),

    "select_ccnet_band" -> Q(
      "CCNet-style perplexity-band selection (Wenzek et al. 2020), made bit-portable: each scorable document's fluency score is its corpus-common bigram fraction (the text_lm_quality signal — an integer ratio, no logs), documents are cut into per-language terciles by NTILE(3) over (score desc, doc_id), and the head+middle bands are kept while the tail is dropped — the language-stratified band filter CCNet applies with a real LM. The per-language window is the exact small-SF twin of select_ccnet_band_scale, whose percentile-cut form is the one to run beyond memory scale",
      (s, dir) => {
        val scored = ccnetScored(s, dir)
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("score").desc, col("doc_id"))
        scored
          .withColumn("band", ntile(3).over(w).cast("long"))
          .withColumn("keep", col("band") <= 2L)
          .orderBy(col("doc_id"))
      },
      s"""WITH $CcnetScoredSqlCtes
         |SELECT doc_id, lang, score,
         |  CAST(NTILE(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
         |    AS BIGINT) AS band,
         |  NTILE(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id) <= 2
         |    AS keep
         |FROM scored ORDER BY doc_id""".stripMargin),

    "select_ccnet_band_scale" -> Q(
      "Scale-safe CCNet band selection: the two per-language cut scores come from ONE percentile aggregate per language (a few doubles, broadcast), and the band label is a row-local comparison — no per-language total-order window. This is the form that survives 100 TB: the NTILE twin above sorts every language partition globally (the repo's worst measured 10x ratio before this landed); here the only shuffles are the scoring joins both forms share plus one tiny per-language aggregate. Value-boundary semantics: ties AT a cut score share a band (NTILE splits them by doc_id), so band populations need not be exactly n/3 — the spec pins agreement with the NTILE form away from cut ties. At 100 TB swap percentile -> approx_percentile: identical plumbing, sketch-mergeable cuts",
      (s, dir) => {
        // percentile() is bit-identical to DuckDB quantile_cont (pinned
        // by the c14_quartiles / feat1_quantile_bins_scale anchors), so
        // strict `>` comparisons against the cuts agree cross-engine.
        // cuts ascending [q1/3, q2/3]; score above both -> band 1 (head),
        // above one -> 2 (middle), else 3 (tail): 3 - #cuts-beaten.
        // scored feeds the per-lang percentile build AND the band stream —
        // persist (doc_id-sized, 3 columns) so the gram join+agg runs once
        val scored = ccnetScored(s, dir).persist()
        val cuts = scored.groupBy(col("lang"))
          .agg(expr(s"percentile(score, array($CcnetCutFracs))").as("cs"))
        scored
          .join(broadcast(cuts), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("score"),
            (lit(3) - size(filter(col("cs"), c => col("score") > c)))
              .cast("long").as("band"))
          .withColumn("keep", col("band") <= 2L)
          .orderBy(col("doc_id"))
      },
      s"""WITH $CcnetScoredSqlCtes,
         |cuts AS (
         |  SELECT lang, quantile_cont(score, [$CcnetCutFracs]) AS cs
         |  FROM scored GROUP BY lang)
         |SELECT s.doc_id, s.lang, s.score,
         |  CAST(3 - len(list_filter(c.cs, x -> s.score > x)) AS BIGINT) AS band,
         |  CAST(3 - len(list_filter(c.cs, x -> s.score > x)) AS BIGINT) <= 2
         |    AS keep
         |FROM scored s JOIN cuts c USING (lang)
         |ORDER BY doc_id""".stripMargin),

    "report_drift" -> Q(
      "Distribution-drift monitor: each source's 256-bucket hashed-token distribution vs the corpus mixture, as L1 (Manhattan) distance Σ|p_src − p_all| — range [0, 2], twice the total-variation distance; same convention as the streaming monitor (unobserved buckets contribute their full corpus mass: the identity Σ_miss p_all = 1 − Σ_obs p_all keeps the computation on the source's own buckets, no dense grid). The data-quality alarm that catches a crawler or source going off-distribution; histograms are bucket-count-bounded, the corpus side broadcasts, and the per-source sums fold in pinned bucket order so the doubles hash bit-for-bit",
      (s, dir) => {
        val bucket = conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("long")
        val toks = T.documentsSpread(s, dir)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
          .select(col("source"), bucket.as("bucket"))
        val bySrc = toks.groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("c"))
          // consumed by the report stream AND the srcTot/allB/allTot
          // aggregate builds — unpersisted, the token explode+agg re-ran
          // per branch (measured job-time 4.9 s for a 1.9 s wall); the
          // cache is n_sources×256 rows
          .persist()
        val srcTot = bySrc.groupBy(col("source")).agg(sum(col("c")).as("tot"))
        val allB = bySrc.groupBy(col("bucket")).agg(sum(col("c")).as("c_all"))
        // The grand total is a 1-row scalar — fetch it driver-side (the
        // same cursor boundary as dedup_incremental's split) instead of
        // crossJoin(broadcast(...)). Being the FIRST action of the query,
        // this job fills the bySrc cache, so the srcTot/allB broadcast
        // builds and the report stream all read the 256×n_sources cache
        // warm instead of racing the cold token explode+agg concurrently
        // (tools/Probe job_ms/wall 1.18 with the crossJoin form); it also
        // drops one broadcast exchange. Identical arithmetic: gt enters the
        // division as the same long literal.
        val gt = bySrc.agg(sum(col("c"))).head.getLong(0)
        def orderedSum(v: Column) = aggregate(
          transform(sort_array(collect_list(struct(col("bucket"), v.as("v")))),
            x => x.getField("v")),
          lit(0.0), (acc, x) => acc + x)
        bySrc
          .join(srcTot, Seq("source"))
          .join(broadcast(allB), Seq("bucket"))
          .withColumn("gt", lit(gt))
          .select(col("source"), col("bucket"), col("tot"),
            (col("c").cast("double") / col("tot").cast("double")).as("p_src"),
            (col("c_all").cast("double") / col("gt").cast("double")).as("p_all"))
          .groupBy(col("source"))
          .agg(first(col("tot")).as("n_tokens"),
            orderedSum(abs(col("p_src") - col("p_all"))).as("l1_obs"),
            orderedSum(col("p_all")).as("mass_obs"))
          .select(col("source"), col("n_tokens"),
            (col("l1_obs") + (lit(1.0) - col("mass_obs"))).as("drift"))
          .orderBy(col("source"))
      },
      """WITH toks AS (
        |  SELECT source, CAST(('0x' || substr(md5(tok), 1, 2)) AS BIGINT)
        |    AS bucket
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)),
        |bysrc AS (
        |  SELECT source, bucket, COUNT(*) AS c FROM toks
        |  GROUP BY source, bucket),
        |srctot AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM bysrc
        |  GROUP BY source),
        |allb AS (
        |  SELECT bucket, CAST(SUM(c) AS BIGINT) AS c_all FROM bysrc
        |  GROUP BY bucket),
        |alltot AS (SELECT CAST(SUM(c_all) AS BIGINT) AS gt FROM allb),
        |j AS (
        |  SELECT b.source, b.bucket, t.tot,
        |    CAST(b.c AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p_src,
        |    CAST(a.c_all AS DOUBLE) / CAST(g.gt AS DOUBLE) AS p_all
        |  FROM bysrc b
        |  JOIN srctot t ON b.source = t.source
        |  JOIN allb a ON b.bucket = a.bucket, alltot g)
        |SELECT source, any_value(tot) AS n_tokens,
        |  list_reduce(list_prepend(0.0,
        |    list(abs(p_src - p_all) ORDER BY bucket)), (acc, v) -> acc + v)
        |  + (1.0 - list_reduce(list_prepend(0.0,
        |      list(p_all ORDER BY bucket)), (acc, v) -> acc + v)) AS drift
        |FROM j GROUP BY source ORDER BY source""".stripMargin),

    "report_dataset_card" -> Q(
      "Per-source dataset card: the one-table summary a corpus release ships with (datasheets-for-datasets shape) — document count, character totals, floor-divided mean length, language count, and the dominant language with its document count (ties to the alphabetically first language). Everything is integer counting or string picking, so the card hash-matches DuckDB exactly; one grouped scan plus a languages-deep window — the card for a 100 TB corpus costs one aggregation pass",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = T.documents(s, dir)
        val stats = d.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          max(col("n_chars")).as("max_doc_chars"),
          countDistinct(col("lang")).as("n_langs"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("lang_docs").desc, col("lang"))
        val top = d.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("lang_docs"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("source"), col("lang").as("top_lang"),
            col("lang_docs").as("top_lang_docs"))
        stats.join(top, Seq("source"))
          .select(col("source"), col("n_docs"), col("total_chars"),
            expr("CAST(total_chars div n_docs AS BIGINT)").as("avg_chars"),
            col("max_doc_chars"), col("n_langs"), col("top_lang"),
            col("top_lang_docs"))
          .orderBy(col("source"))
      },
      """WITH stats AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |    CAST(MAX(n_chars) AS BIGINT) AS max_doc_chars,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM documents GROUP BY source),
        |top AS (
        |  SELECT source, lang AS top_lang, lang_docs AS top_lang_docs FROM (
        |    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS lang_docs,
        |      ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY COUNT(*) DESC, lang NULLS FIRST) AS rn
        |    FROM documents GROUP BY source, lang)
        |  WHERE rn = 1)
        |SELECT s.source, s.n_docs, s.total_chars,
        |  CAST(s.total_chars // s.n_docs AS BIGINT) AS avg_chars,
        |  s.max_doc_chars, s.n_langs, t.top_lang, t.top_lang_docs
        |FROM stats s JOIN top t USING (source)
        |ORDER BY source""".stripMargin),
  )
}
