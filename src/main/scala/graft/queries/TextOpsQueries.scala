package graft.queries

import graft.{Q, Tables => T}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.cosineSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document-pipeline operators over the `documents` table: tokenization,
  * fingerprinting, exact + MinHash-LSH + n-gram-Jaccard + SimHash dedup,
  * text quality scoring, language ID, hybrid (vector+text) ranked search
  * (SURVEY §2 D2, F2-F4), multimodal binary plumbing, and the
  * embedding-input assembly (F19).
  *
  * All computations are engine-portable by construction: md5-hex ordering
  * for hash ranks, integer counting for set statistics, IEEE-754 double
  * division/multiplication only on exactly-reproducible inputs.
  */
object TextOpsQueries {

  /** Shared DuckDB fragments. */
  private[queries] val ToksSql = "string_split(text, ' ')"
  private[queries] def shinglesSql(toks: String, k: Int): String =
    s"""(CASE WHEN len($toks) <= $k THEN [array_to_string($toks, ' ')]
       | ELSE list_transform(range(1, len($toks) - ${k - 2}),
       |        i -> ${(0 until k).map(j => s"$toks[i+$j]").mkString(" || ' ' || ")})
       | END)""".stripMargin.replaceAll("\n", " ")
  private[queries] def minhashSql(sh: String, seed: Int): String =
    s"list_min(list_transform($sh, s -> md5('$seed|' || s)))"

  private val QueryTerms = Seq("spark", "join", "window")

  /** (doc_id, simhash): 16-bit md5-nibble majority-vote signature per
    * document — shared by `dedup_simhash` and `dedup_simhash_near`.
    * One-pass codegen'd [[graft.functions.SimHash16]] over the distinct
    * token array: no row explosion, no shuffle (the round-2 form exploded
    * tokens×16 bit-rows through two hash-agg shuffles). The `isNotNull`
    * filter preserves the groupBy form's drop-document-on-null-text
    * behavior (unreachable from real data; pinned in PropertySpec). */
  private def simhashOf(s: SparkSession, dir: String): DataFrame =
    T.documentsSpread(s, dir)
      .select(col("doc_id"),
        graft.functions.SimHash16.simhash16(array_distinct(tokens(col("text"))))
          .as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Declarative twin of [[simhashOf]] (round-2 explode×16 groupBy form) —
    * kept ONLY as the PropertySpec equality oracle for [[SimHash16]]. */
  private[graft] def simhashOfSpec(df: DataFrame): DataFrame = {
    val toks = df
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val bits = toks
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(15))).as("bit"))
      .withColumn("w", simhashNibbleWeight(col("h"), col("bit")))
    bits.groupBy(col("doc_id"), col("bit"))
      .agg(sum(col("w")).as("sw"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("sw") > 0, expr("shiftleft(1, bit)").cast("long"))
        .otherwise(0L)).as("simhash"))
  }

  /** Shared oracle CTEs computing (doc_id, simhash) in DuckDB. */
  private val SimhashSqlCtes =
    """t AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, g.bit,
      |    CASE WHEN instr('13579bdf', substr(md5(tok), g.bit + 1, 1)) > 0
      |      THEN 1 ELSE -1 END AS w
      |  FROM t, (SELECT unnest(range(0, 16)) AS bit) g),
      |s AS (SELECT doc_id, bit, SUM(w) AS sw FROM b GROUP BY doc_id, bit),
      |sims AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN sw > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
      |  FROM s GROUP BY doc_id)""".stripMargin

  /** Language-ID marker sets — honest stopword heuristics. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est", "une", "les"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "zu"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和"))

  private def markersSqlList(ms: Seq[String]): String =
    ms.map(m => s"'$m'").mkString("[", ",", "]")

  /** Verified near-duplicate pairs `(a_id < b_id, jac ≥ 0.8)` from the
    * MinHash-LSH pipeline — the engine's canonical near-dup edge set,
    * shared by `dedup_minhash_lsh` and the connected-components
    * clustering in [[PipelineQueries]] (`dedup_cluster_cc`).
    *
    * Shape notes (the 100×-survival properties): arrays are staged once
    * per projection, the band join carries only (id, band) pairs — never
    * token arrays — and token sets are re-attached after the candidate
    * `distinct`, so shuffle volume is 16-byte id pairs.
    */
  /** Shared MinHash-LSH staging over any `(doc_id, toks)` frame — ONE
    * implementation of the signature/band/candidate pipeline, composed by
    * `dedup_minhash_lsh`, both curation composites, and the estimator
    * query (a band-logic fix must not need four edits). Returns the
    * PERSISTED signature table `(doc_id, tset, sig, bands)` and the
    * candidate id-pair stream `(a_id, b_id)`.
    *
    * Shape notes (the 100×-survival properties): arrays are staged once
    * per projection, the band join carries only (id, band) pairs — never
    * token arrays — and token sets re-attach after the candidate
    * `distinct`, so shuffle volume is 16-byte id pairs. The persist is
    * tiny relative to the corpus: (id, distinct tokens, signature, 2
    * band strings) per doc, reused by four plan branches.
    * Explode is over literal band indices, NOT posexplode(bands): a
    * generator over a computed array makes Catalyst infer a
    * `size(bands) > 0` filter and push the whole minhash expression
    * tree below the projections, recomputing it per row per band. */
  /** 60-bit integer band key from a band's concatenated-md5 value —
    * `conv(substr(md5(v), 1, 15), 16, 10)` as BIGINT, mirrored bit-for-bit
    * by the oracle's `('0x' || substr(md5(v), 1, 15))::BIGINT`. The band
    * join on 64-char hex strings was the measured hot frame at the 5M-doc
    * third decade (every SMJ compare walks the string); a long key makes
    * the shuffle radix-sortable and the compare one instruction. Both
    * engines derive the SAME key, so the (astronomically rare) 60-bit
    * collision adds the same candidate pair on both sides — and a
    * collision pair only reaches the output if it passes the exact
    * Jaccard ≥ 0.8 verify, i.e. if it is a true near-dup anyway. */
  private[graft] def bandKey(bandVal: Column): Column =
    conv(substring(md5(bandVal), 1, 15), 16, 10).cast("long")

  private[graft] def lshStage(docsWithToks: DataFrame): (DataFrame, DataFrame) = {
    val staged = docsWithToks
      .select(col("doc_id"), col("toks"), shingles(col("toks"), 3).as("sh"))
      .select(col("doc_id"),
        array_sort(array_distinct(col("toks"))).as("tset"),
        minhashSignature(col("sh"), 4).as("sig"))
      .select(col("doc_id"), col("tset"), col("sig"),
        lshBands(col("sig"), 4, 2).as("bands"))
      .persist()
    val bandRows = staged
      .select(col("doc_id"), col("bands"),
        explode(array(lit(0), lit(1))).as("band_idx"))
      .select(col("doc_id"), col("band_idx"),
        bandKey(element_at(col("bands"), col("band_idx") + 1)).as("band_key"))
    val cand = bandRows.select(col("doc_id").as("a_id"), col("band_idx"), col("band_key"))
      .join(bandRows.select(col("doc_id").as("b_id"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    (staged, cand)
  }

  /** Candidate pairs with exact Jaccard ≥ `minJac` verified against the
    * staged token sets. */
  private[graft] def lshVerifiedPairs(staged: DataFrame, cand: DataFrame,
      minJac: Double): DataFrame = {
    val tsets = staged.select(col("doc_id"), col("tset"))
    cand
      .join(tsets.select(col("doc_id").as("a_id"), col("tset").as("ta")), Seq("a_id"))
      .join(tsets.select(col("doc_id").as("b_id"), col("tset").as("tb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.ArrayFunctions.jaccardSorted(col("ta"), col("tb")).as("jac"))
      .filter(col("jac") >= minJac)
  }

  private[queries] def lshNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val (staged, cand) = lshStage(T.documentsSpread(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks")))
    lshVerifiedPairs(staged, cand, 0.8)
  }

  /** DuckDB CTE chain ending in `pairs(a_id, b_id, jac)` — the oracle twin
    * of [[lshNearDupPairs]]. */
  private[queries] val LshPairsSqlCtes: String =
    s"""sigs AS (
       |  SELECT doc_id, list_distinct($ToksSql) AS tset,
       |    ${(0 until 4).map(seed =>
          s"${minhashSql(shinglesSql(ToksSql, 3), seed)} AS m$seed").mkString(", ")}
       |  FROM documents),
       |bands AS (
       |  SELECT doc_id, tset, 0 AS band_idx,
       |    ('0x' || substr(md5(m0 || m1), 1, 15))::BIGINT AS band_key FROM sigs
       |  UNION ALL
       |  SELECT doc_id, tset, 1 AS band_idx,
       |    ('0x' || substr(md5(m2 || m3), 1, 15))::BIGINT AS band_key FROM sigs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.tset AS ta, b.tset AS tb
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT a_id, b_id, jac FROM (
       |    SELECT a_id, b_id,
       |      CASE WHEN len(ta) + len(tb) - len(list_intersect(ta, tb)) = 0 THEN 0.0
       |        ELSE len(list_intersect(ta, tb))::DOUBLE
       |             / (len(ta)::DOUBLE + len(tb)::DOUBLE - len(list_intersect(ta, tb))::DOUBLE)
       |      END AS jac
       |    FROM cand)
       |  WHERE jac >= 0.8)""".stripMargin

  /** (doc_id, source, gr): sorted distinct hashed 2-shingles per document —
    * the shared input of the containment candidate and verify stages. */
  private[graft] def containmentShingled(s: SparkSession, dir: String): DataFrame =
    T.documentsSpread(s, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.HashedShinglesFunctions
          .hashedShingles(tokens(col("text")), 2).as("gr"))

  /** Candidate (a_id, b_id) pairs for containment >= 0.5, hot-shingle-proof
    * and LOSSLESS: each doc probes only its rarest-first PREFIX of
    * n − ceil(n/2) + 1 shingles against the full per-source shingle index.
    * If |A∩B| / min(|A|,|B|) >= 1/2 then the smaller doc shares
    * >= ceil(min/2) shingles, which cannot all sit in its rarest-first
    * suffix of ceil(min/2) − 1 — so one of them probes and the pair
    * surfaces (the AllPairs prefix argument adapted to the asymmetric
    * threshold: overlap is bounded by tau·min, not tau/(1+tau)·(n_a+n_b),
    * so only the probe side prefixes; the index side stays full).
    * The payoff is the hot-shingle guard: a boilerplate shingle every doc
    * of a source shares has maximal document frequency, sorts LAST in
    * every rarest-first order, and enters no prefix of any multi-shingle
    * doc — the O(n²) candidate blowup the raw co-occurrence join suffers
    * becomes zero extra pairs. Document frequency is per-source (both
    * docs of any candidate share a source, so the order is consistent
    * where it matters); the df table broadcasts at fixture scale and
    * sort-merge-joins at 100 TB, same adjudication as dedup_ppjoin's. */
  private[graft] def containmentCandidates(docs: DataFrame): DataFrame = {
    // consumed by the df build, the prefix ranking AND the probe index —
    // persist so the shingle explode off the cached docs runs once
    val ex = docs.select(col("doc_id"), col("source"), explode(col("gr")).as("g"))
      .persist()
    val dfreq = ex.groupBy(col("source"), col("g")).agg(count(lit(1)).as("df"))
    val prefixes = ex.join(broadcast(dfreq), Seq("source", "g"))
      .groupBy(col("doc_id"))
      .agg(first(col("source")).as("source"),
        sort_array(collect_list(struct(col("df"), col("g")))).as("ranked"))
      .select(col("doc_id"), col("source"),
        explode(expr(
          "slice(ranked, 1, size(ranked) - (size(ranked) + 1) div 2 + 1)"))
          .as("p"))
      .select(col("doc_id"), col("source"), col("p.g").as("g"))
    prefixes.select(col("doc_id").as("p_id"), col("source"), col("g"))
      .join(ex.select(col("doc_id").as("x_id"), col("source"), col("g")),
        Seq("source", "g"))
      .filter(col("p_id") =!= col("x_id"))
      .select(least(col("p_id"), col("x_id")).as("a_id"),
        greatest(col("p_id"), col("x_id")).as("b_id"))
      .distinct()
  }

  val all: Seq[(String, Q)] = Seq(

    "text_token_count" -> Q(
      "Token counting (training-data pipeline; reference analog F20 src/embeddings.py:95-107)",
      (s, dir) => T.documents(s, dir)
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id")),
      s"""SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),

    "text_fingerprint" -> Q(
      "Document fingerprinting: md5 of whitespace-normalized text (reference analog F13 src/security.py:112-114)",
      (s, dir) => T.documents(s, dir)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    "text_normalize" -> Q(
      "Text canonicalization: Unicode NFC (codegen'd native expression — Spark has no builtin; decomposed é vs composed é must fingerprint/shingle identically or crawl-source variance defeats every exact-match operator downstream) + whitespace-run collapse + trim, with a changed flag — fully row-local, scan-bandwidth-bound at any scale",
      (s, dir) => T.documentsSpread(s, dir)
        .select(col("doc_id"), col("text"),
          trim(regexp_replace(
            graft.functions.NfcNormalize.nfcNormalize(col("text")),
            "[ \\t\\r\\n]+", " ")).as("norm_text"))
        .select(col("doc_id"), col("norm_text"),
          (col("norm_text") =!= col("text")).as("changed"))
        .orderBy(col("doc_id")),
      """WITH n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(nfc_normalize(text), '[ \t\r\n]+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, (norm_text <> text) AS changed
        |FROM n ORDER BY doc_id""".stripMargin),

    "text_pii_stats" -> Q(
      "PII detection stats: per-document URL/email/long-number match counts and the scrubbed length, with the SAME ordered passes as the scrub itself (URL→email→number — order matters: an email inside a URL must count once, as a URL) — the audit report a privacy-gated corpus release ships alongside the scrub; row-local regex, scan-bandwidth-bound at any scale",
      (s, dir) => T.documentsSpread(s, dir)
        .select(col("doc_id"),
          graft.functions.EmailFunctions.scrubPii(col("text")).as("p"))
        .select(col("doc_id"),
          col("p.n_urls"), col("p.n_emails"), col("p.n_numbers"),
          length(col("p.text")).cast("long").as("n_chars_scrubbed"))
        .orderBy(col("doc_id")),
      """WITH s1 AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, 'https?://[^\s<>"]+')) AS BIGINT) AS n_urls,
        |    regexp_replace(text, 'https?://[^\s<>"]+', '<URL>', 'g') AS t1
        |  FROM documents),
        |s2 AS (
        |  SELECT doc_id, n_urls,
        |    CAST(len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id, n_urls, n_emails,
        |    CAST(len(regexp_extract_all(t2, '[(]?[0-9](?:[ ()\-.]*[0-9]){6,}')) AS BIGINT) AS n_numbers,
        |    regexp_replace(t2, '[(]?[0-9](?:[ ()\-.]*[0-9]){6,}', '<NUMBER>', 'g') AS t3
        |  FROM s2)
        |SELECT doc_id, n_urls, n_emails, n_numbers,
        |  CAST(length(t3) AS BIGINT) AS n_chars_scrubbed
        |FROM s3 ORDER BY doc_id""".stripMargin),

    "dedup_exact" -> Q(
      "Exact dedup: hash-groupBy on content fingerprint, keep min doc_id (reference analog B7/A4 upsert dedup)",
      (s, dir) => T.documents(s, dir)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy(col("keep_id")),
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |ORDER BY keep_id""".stripMargin),

    "dedup_minhash_sig" -> Q(
      "MinHash signatures over 3-token shingles (md5-order permutations, 4 hashes)",
      // documentsSpread: 4 md5s per shingle is the most CPU-dense scan in
      // the registry — a single-split input would serialize it all onto
      // one core (measured ~3.5 s -> sub-second at sf0.1 local[32])
      (s, dir) => T.documentsSpread(s, dir)
        .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
        // one-pass codegen'd signature, split into the m0..m3 columns the
        // oracle names (values identical to the per-seed minhash spec)
        .select(col("doc_id"), minhashSignature(col("sh"), 4).as("sig"))
        .select(col("doc_id") +: (0 until 4).map(seed =>
          element_at(col("sig"), seed + 1).as(s"m$seed")): _*)
        .orderBy(col("doc_id")),
      s"""SELECT doc_id,
         |  ${(0 until 4).map(seed =>
             s"${minhashSql(shinglesSql(ToksSql, 3), seed)} AS m$seed").mkString(",\n  ")}
         |FROM documents ORDER BY doc_id""".stripMargin),

    "dedup_minhash_lsh" -> Q(
      "MinHash+LSH near-dup candidates: shingle→minhash→band→bucket-join→exact Jaccard verify",
      (s, dir) => lshNearDupPairs(s, dir).orderBy(col("a_id"), col("b_id")),
      s"""WITH $LshPairsSqlCtes
         |SELECT a_id, b_id, jac FROM pairs ORDER BY a_id, b_id""".stripMargin),

    "dedup_lsh_tuning" -> Q(
      "LSH band-geometry tuning report: the SAME 4-hash MinHash signatures evaluated at every legal (bands × rows) split — 4×1 (recall-max), 2×2 (the production setting), 1×4 (precision-max) — reporting candidate-pair count, verified-pair count (exact Jaccard >= 0.8) and precision per configuration. THE dial-setting run before a 100 TB dedup commits to a geometry: signatures are computed once (persisted, corpus-sized), each config's cost is one ids-only band self-join, and the report is 3 rows",
      (s, dir) => {
        val staged = T.documentsSpread(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            array_sort(array_distinct(col("toks"))).as("tset"),
            minhashSignature(shingles(col("toks"), 3), 4).as("sig"))
          .persist()
        val tsets = staged.select(col("doc_id"), col("tset"))
        // ONE single-hash band join serves all three geometries (r15
        // restructure; guide §2.4 "remove shuffles outright"): a band of r
        // hashes matches iff its r component hashes each match (band
        // values are concatenations of fixed-width 32-char md5 hex), so
        // the per-pair 4-bit single-hash match mask m decides membership
        // in every (bands × rows) split — 4x1 ⟺ any bit, 2x2 ⟺ bits
        // {0,1} or {2,3} together, 1x4 ⟺ all four. The former form ran
        // the band self-join + candidate distinct + tset-attach + exact
        // Jaccard verify once PER CONFIG (3× each); the mask form runs
        // the most permissive join once (its candidate set is the
        // superset the other two filter), verifies each candidate pair's
        // exact Jaccard once, and derives every config's counts as
        // conditional sums in one aggregate — strictly fewer exchanges
        // and one verify pass at any scale. Counts are identical by the
        // subset chain cand(1x4) ⊆ cand(2x2) ⊆ cand(4x1).
        val hashes = staged.select(col("doc_id"),
          posexplode(col("sig")).as(Seq("band_idx", "band_val")))
        val masked = hashes
          .select(col("doc_id").as("a_id"), col("band_idx"), col("band_val"))
          .join(hashes.select(col("doc_id").as("b_id"), col("band_idx"),
            col("band_val")), Seq("band_idx", "band_val"))
          .filter(col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(sum(expr("shiftleft(1L, band_idx)")).as("m"))
        val is2 = (col("m").bitwiseAND(3L) === 3L) ||
          (col("m").bitwiseAND(12L) === 12L)
        val is1 = col("m") === 15L
        val judged = masked
          .join(tsets.select(col("doc_id").as("a_id"), col("tset").as("ta")), Seq("a_id"))
          .join(tsets.select(col("doc_id").as("b_id"), col("tset").as("tb")), Seq("b_id"))
          .select(col("m"), graft.functions.ArrayFunctions
            .jaccardSorted(col("ta"), col("tb")).as("jac"))
        val ver = col("jac") >= 0.8
        val counts = judged.agg(
          count(lit(1)).as("c4"),
          sum(when(ver, 1L).otherwise(0L)).as("v4"),
          coalesce(sum(when(is2, 1L).otherwise(0L)), lit(0L)).as("c2"),
          sum(when(is2 && ver, 1L).otherwise(0L)).as("v2"),
          coalesce(sum(when(is1, 1L).otherwise(0L)), lit(0L)).as("c1"),
          sum(when(is1 && ver, 1L).otherwise(0L)).as("v1"))
        counts.select(explode(array(
            struct(lit("4x1").as("config"), lit(4L).as("n_bands"),
              lit(1L).as("rows_per_band"), col("c4").as("n_candidates"),
              col("v4").as("n_verified")),
            struct(lit("2x2").as("config"), lit(2L).as("n_bands"),
              lit(2L).as("rows_per_band"), col("c2").as("n_candidates"),
              col("v2").as("n_verified")),
            struct(lit("1x4").as("config"), lit(1L).as("n_bands"),
              lit(4L).as("rows_per_band"), col("c1").as("n_candidates"),
              col("v1").as("n_verified")))).as("r"))
          .select(col("r.config").as("config"), col("r.n_bands").as("n_bands"),
            col("r.rows_per_band").as("rows_per_band"),
            col("r.n_candidates").as("n_candidates"),
            col("r.n_verified").as("n_verified"))
          .withColumn("precision",
            when(col("n_candidates") === 0L, lit(0.0))
              .otherwise(col("n_verified").cast("double")
                / col("n_candidates").cast("double")))
          .orderBy(col("n_bands").desc)
      }, {
        def bandsSql(b: Int): String = {
          val r = 4 / b
          (0 until b).map { i =>
            val v = (0 until r).map(j => s"m${i * r + j}").mkString(" || ")
            s"SELECT doc_id, tset, $i AS band_idx, $v AS band_val FROM sigs"
          }.mkString(" UNION ALL ")
        }
        def cfgSql(b: Int): String =
          s"""SELECT '${b}x${4 / b}' AS config, CAST($b AS BIGINT) AS n_bands,
             |  CAST(${4 / b} AS BIGINT) AS rows_per_band,
             |  COUNT(*) AS n_candidates,
             |  CAST(SUM(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_verified,
             |  CASE WHEN COUNT(*) = 0 THEN 0.0
             |    ELSE CAST(SUM(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS DOUBLE)
             |         / CAST(COUNT(*) AS DOUBLE) END AS precision
             |FROM (
             |  SELECT CASE WHEN len(ta) + len(tb) - len(list_intersect(ta, tb)) = 0
             |      THEN 0.0
             |    ELSE len(list_intersect(ta, tb))::DOUBLE
             |      / (len(ta)::DOUBLE + len(tb)::DOUBLE
             |         - len(list_intersect(ta, tb))::DOUBLE) END AS jac
             |  FROM (
             |    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             |      a.tset AS ta, b.tset AS tb
             |    FROM (${bandsSql(b)}) a JOIN (${bandsSql(b)}) b
             |      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             |     AND a.doc_id < b.doc_id))""".stripMargin
        s"""WITH sigs AS (
           |  SELECT doc_id, list_distinct($ToksSql) AS tset,
           |    ${(0 until 4).map(seed =>
              s"${minhashSql(shinglesSql(ToksSql, 3), seed)} AS m$seed").mkString(", ")}
           |  FROM documents)
           |${cfgSql(4)}
           |UNION ALL
           |${cfgSql(2)}
           |UNION ALL
           |${cfgSql(1)}
           |ORDER BY n_bands DESC""".stripMargin
      }),

    "dedup_incremental" -> Q(
      "Incremental near-dup: the new-crawl delta banded against the existing corpus signature index — per-increment cost is O(|delta| x bands), the base x base pair space is never revisited (reference analog: G1 incremental sync src/etl.py:169-204 applied to the dedup surface)",
      (s, dir) => {
        // The crawl boundary: ids at or below half the id space are the
        // already-curated corpus; the rest is the incoming increment. In
        // production the base side of every join below is the PERSISTED
        // signature/band index written by the previous increment (tiny:
        // id + 4 longs + 2 band strings + distinct tokens per doc), so an
        // increment never re-shingles or re-pairs the 100 TB base — the
        // one-sided band join is what makes monthly-crawl dedup feasible.
        // The 1-row max() fetch is a driver-side scalar boundary (same
        // pattern as the sync cursor in EmailEtlApi.syncIncremental). It is computed
        // off the persisted `staged` frame — 1:1 with documents, so the
        // max is identical — because this scalar job is the FIRST action
        // of the query: reading it through `staged` fills the signature
        // cache before the band join's two sides (and the verify's two
        // tset joins) can race it cold and duplicate the tokenize+minhash
        // subtree concurrently (tools/Probe measured job_ms/wall = 1.51
        // with the max taken from the raw parquet scan; the same
        // guide-§1.2 dedup as the select_dsir persist, but with zero
        // extra jobs — the cursor job was already being paid).
        val (staged, _) = lshStage(T.documentsSpread(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("toks")))
        val split = staged
          .agg(max(col("doc_id"))).head.getLong(0) / 2
        val bandRows = staged
          .select(col("doc_id"), col("bands"),
            explode(array(lit(0), lit(1))).as("band_idx"))
          .select(col("doc_id"), col("band_idx"),
            bandKey(element_at(col("bands"), col("band_idx") + 1)).as("band_key"))
        // One-sided candidate join: delta bands probe ALL bands (base +
        // earlier delta), ordered a_id < b_id so each delta doc dedups
        // against the corpus AND against earlier arrivals in its own batch
        // — the same keep-first rule the full pipeline applies, at
        // delta-sized cost.
        val delta = bandRows.filter(col("doc_id") > split)
          .select(col("doc_id").as("b_id"), col("band_idx"), col("band_key"))
        val cand = bandRows
          .select(col("doc_id").as("a_id"), col("band_idx"), col("band_key"))
          .join(delta, Seq("band_idx", "band_key"))
          .filter(col("a_id") < col("b_id"))
          .select("a_id", "b_id").distinct()
        val dupIds = lshVerifiedPairs(staged, cand, 0.8)
          .select(col("b_id").as("doc_id")).distinct()
        staged.select("doc_id").filter(col("doc_id") > split)
          .join(dupIds.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("is_dup"), lit(false)).as("is_dup"))
          .orderBy("doc_id")
      },
      s"""WITH $LshPairsSqlCtes,
         |split AS (SELECT MAX(doc_id) // 2 AS s FROM documents)
         |SELECT d.doc_id,
         |  EXISTS (SELECT 1 FROM pairs p WHERE p.b_id = d.doc_id) AS is_dup
         |FROM documents d, split
         |WHERE d.doc_id > split.s
         |ORDER BY doc_id""".stripMargin),

    "dedup_cross_source" -> Q(
      "Cross-source duplication matrix: the verified MinHash-LSH near-dup pairs rolled up by (source_a, source_b) — WHICH crawls duplicate each other, not just which documents are duplicated. The report that redirects a 100 TB ingest budget: a hot off-diagonal cell means two feeds ship the same content and one can be dropped at the source; a hot diagonal cell means a feed re-crawls itself. Rides the exact same verified pair set as dedup_minhash_lsh (ids-only pairs joined twice against the tiny doc->source map; source pair normalized so a<=b), one k^2-bounded rollup on top",
      (s, dir) => {
        val srcs = T.documentsSpread(s, dir).select(col("doc_id"), col("source"))
        val pairs = lshNearDupPairs(s, dir)
        pairs
          .join(srcs.select(col("doc_id").as("a_id"), col("source").as("sa")), Seq("a_id"))
          .join(srcs.select(col("doc_id").as("b_id"), col("source").as("sb")), Seq("b_id"))
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("source_a"), col("source_b"))
      },
      s"""WITH $LshPairsSqlCtes
         |SELECT least(da.source, db.source) AS source_a,
         |  greatest(da.source, db.source) AS source_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM pairs p
         |JOIN documents da ON da.doc_id = p.a_id
         |JOIN documents db ON db.doc_id = p.b_id
         |GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin),

    "dedup_fuzzy_entity" -> Q(
      "Fuzzy entity resolution (record-linkage dedup): blocked pairwise Levenshtein over contact-like records — the classic Fellegi-Sunter blocking discipline (pair only within a domain-attribute block, here nation x market segment; in an email corpus: the address domain) with exact edit distance <= 2 as the match rule. Edit distance catches the typo/truncation near-dups that token- and shingle-set similarity (dedup_ngram_jaccard, dedup_ppjoin) miss on SHORT strings, where one character edit moves Jaccard by whole steps. Integer distances, so the full pair list hash-matches DuckDB. Scale: blocking bounds pairs at O(sum block^2); blocks come from data attributes, so the 100 TB dial is the blocking key's granularity (add length bands / name q-grams the PPJoin way) — the recall/cost trade every ER system exposes",
      (s, dir) => {
        // spread the join input across cores before pairing (the
        // documentsSpread discipline: CPU-dense work sizes its partitions
        // by CORES, not input bytes — and ROUND-ROBIN, not by block key:
        // the build side broadcasts, so each probe task's pair work is
        // rows × matches and even row spread beats key locality, which
        // concentrates whole 120²-pair blocks on single tasks). The
        // one-file fixture otherwise ran the whole 900k-pair Levenshtein
        // DP loop in ONE task: isolated min-of-3 measured 6.2 s single-
        // task → 2.5 s key-partitioned → 2.0 s round-robin.
        val c = T.customer(s, dir)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_mktsegment"))
          .repartition(s.sparkContext.defaultParallelism)
        val a = c.select(col("c_custkey").as("a_id"), col("c_name").as("a_name"),
          col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        val b = c.select(col("c_custkey").as("b_id"), col("c_name").as("b_name"),
          col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
        a.join(b, Seq("nk", "seg"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            levenshtein(col("a_name"), col("b_name")).cast("long").as("dist"))
          .filter(col("dist") <= 2)
          .orderBy(col("a_id"), col("b_id"))
      },
      """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY a_id, b_id""".stripMargin),

    "dedup_ngram_jaccard" -> Q(
      "n-gram Jaccard near-dup: source-blocked pairwise 2-gram shingle-set similarity",
      (s, dir) => {
        // Similarity-join shape: explode distinct shingles, equi-join on
        // (source, shingle), count shared shingles per pair with a
        // codegen'd hash agg, then Jaccard from precomputed set sizes.
        // No per-pair array intersection anywhere — this is the form that
        // survives 100×: shuffle volume is (doc, shingle) pairs, and skewed
        // shingles are just large agg groups, not cross products of arrays.
        // At higher thresholds (τ ≥ 0.5) AllPairs/PPJoin prefix filtering
        // (explode only the |g|−⌈τ·|g|⌉+1 globally-rarest shingles per doc)
        // prunes candidates losslessly; at τ=0.2 the prefix is ~the whole
        // set, so it is deliberately not applied here.
        // Shingles travel as sorted distinct 64-bit hashes (one-pass
        // expression): the join keys and shuffle rows are longs, not
        // shingle strings. The oracle compares final (pair, jaccard)
        // values, which hashing leaves untouched (collisions ~2⁻⁶⁵·m²).
        val docs = T.documentsSpread(s, dir)
          .select(col("doc_id"), col("source"),
            graft.functions.HashedShinglesFunctions
              .hashedShingles(tokens(col("text")), 2).as("gr"))
          .persist() // reused by the size table and the exploded join side
        val sizes = docs.select(col("doc_id"), size(col("gr")).as("n"))
        val ex = docs.select(col("doc_id"), col("source"), explode(col("gr")).as("g"))
        val shared = ex.select(col("doc_id").as("a_id"), col("source"), col("g"))
          .join(ex.select(col("doc_id").as("b_id"), col("source"), col("g")),
            Seq("source", "g"))
          .filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("c"))
        shared
          .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
          .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            (col("c").cast("double") /
              (col("na").cast("double") + col("nb").cast("double") - col("c").cast("double")))
              .as("jac"))
          .filter(col("jac") >= 0.2)
          .orderBy(col("a_id"), col("b_id"))
      },
      s"""WITH g AS (SELECT doc_id, source,
         |    list_distinct(${shinglesSql(ToksSql, 2)}) AS gr
         |  FROM documents)
         |SELECT a_id, b_id, jac FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CASE WHEN len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr)) = 0 THEN 0.0
         |      ELSE len(list_intersect(a.gr, b.gr))::DOUBLE
         |           / (len(a.gr)::DOUBLE + len(b.gr)::DOUBLE - len(list_intersect(a.gr, b.gr))::DOUBLE)
         |    END AS jac
         |  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE jac >= 0.2
         |ORDER BY a_id, b_id""".stripMargin),

    "dedup_containment" -> Q(
      "Containment near-dup (Broder's asymmetric measure): shared shingles over the SMALLER set's size, |A∩B| / min(|A|,|B|) — catches doc-inside-doc inclusion (quotes, boilerplate wrapping, partial mirrors) that symmetric Jaccard dilutes away. Candidates ride a rarest-first prefix probe against the full shingle index (lossless for the containment threshold: the smaller doc's shared shingles cannot all hide in its ceil(tau*n)-1 suffix), so a boilerplate shingle every doc shares generates ZERO candidate pairs instead of O(n^2); exact merge-intersect verify on the candidate set",
      (s, dir) => {
        val docs = containmentShingled(s, dir).persist()
        // set sizes are size(gr) of the arrays the verify join already
        // attaches — computed row-locally here instead of via two more
        // id-keyed joins against a separate sizes projection (r15; guide
        // §2.4: the former 4-join chain shuffled the candidate stream
        // twice more for values derivable from columns already present)
        containmentCandidates(docs)
          .join(docs.select(col("doc_id").as("a_id"), col("gr").as("ga")), Seq("a_id"))
          .join(docs.select(col("doc_id").as("b_id"), col("gr").as("gb")), Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            (graft.functions.ArrayFunctions.sortedIntersectSize(col("ga"), col("gb"))
              .cast("double") /
              least(size(col("ga")), size(col("gb"))).cast("double")).as("containment"))
          .filter(col("containment") >= 0.5)
          .orderBy(col("a_id"), col("b_id"))
      },
      s"""WITH g AS (SELECT doc_id, source,
         |    list_distinct(${shinglesSql(ToksSql, 2)}) AS gr
         |  FROM documents)
         |SELECT a_id, b_id, containment FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    len(list_intersect(a.gr, b.gr))::DOUBLE
         |      / least(len(a.gr), len(b.gr))::DOUBLE AS containment
         |  FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE containment >= 0.5
         |ORDER BY a_id, b_id""".stripMargin),

    "dedup_ppjoin" -> Q(
      "Prefix-filtered similarity self-join (AllPairs/PPJoin): candidates must share a token in both prefix sets — lossless pruning for Jaccard ≥ τ",
      (s, dir) => {
        // Feature-hashed pipeline: every shingle becomes xxhash64(shingle)
        // immediately, so the df table, prefix rows, candidate join keys,
        // and verify arrays are all 8-byte longs — the representation that
        // keeps shuffle volume flat as documents grow. Collisions
        // (P ≈ |shingles|²/2⁶⁵) are negligible and only perturb a Jaccard
        // by ±1/|set|; the oracle on raw strings agrees at this τ.
        val docs = T.documentsSpread(s, dir)
          .select(col("doc_id"), col("source"),
            graft.functions.HashedShinglesFunctions
              .hashedShingles(tokens(col("text")), 2).as("ts"))
          .persist()
        val tok = docs.select(col("doc_id"), col("source"), explode(col("ts")).as("t"))
        // Global document frequency orders each set rarest-first; the
        // prefix is the first |s| − ⌈τ·|s|⌉ + 1 elements. Any pair with
        // jac ≥ τ must share ≥ ⌈τ·|s|⌉ elements, which cannot all hide in
        // the (⌈τ·|s|⌉−1)-element suffix — so prefix∩prefix ≠ ∅ is a
        // lossless candidate filter (AllPairs, Bayardo et al.). Any
        // consistent global total order works; (df, hash) is ours.
        //
        // Rank assignment is ONE groupBy with an in-expression sort —
        // df is a few-hundred-row table so it BROADCASTS onto the token
        // stream (no shuffle of tok), and the per-doc (df, t) ranking
        // happens inside the collected array instead of a
        // partitionBy-every-doc window (which would shuffle + sort the
        // whole token stream again). ⌈τ·n⌉ stays EXACT integer
        // arithmetic — double math can round τ·n up at representation
        // boundaries and over-prune.
        val df = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
        val ranked = tok.join(broadcast(df), Seq("t"))
          .groupBy(col("doc_id"))
          .agg(first(col("source")).as("source"),
            sort_array(collect_list(struct(col("df"), col("t")))).as("ranked"))
          .select(col("doc_id"), col("source"),
            size(col("ranked")).as("n"),
            expr("slice(ranked, 1, size(ranked) - (size(ranked) + 1) div 2 + 1)")
              .as("prefix"))
          .persist() // generator below must see the materialized array
        val prefixes = ranked
          .select(col("doc_id"), col("source"), col("n"),
            posexplode(col("prefix")).as(Seq("pos", "pt")))
          .select(col("doc_id"), col("source"), col("n"),
            (col("pos") + 1).as("rn"), col("pt").getField("t").as("t"))
        // PPJoin filters (Xiao et al., lossless for jac ≥ τ), applied to
        // every prefix match BEFORE the distinct shuffle — on a templated
        // corpus where a handful of shingles dominate, this is what keeps
        // the candidate stream linear-ish instead of df²:
        //  - length: jac(a,b) ≥ τ needs τ·max(na,nb) ≤ min(na,nb);
        //  - positional: at the FIRST shared token (rank pa in a, pb in b)
        //    all shared tokens sit at ranks ≥ pa / ≥ pb, so the overlap is
        //    at most 1 + min(na−pa, nb−pb); a similar pair needs overlap
        //    ≥ ⌈τ/(1+τ)·(na+nb)⌉ = ⌈(na+nb)/3⌉ at τ=1/2 (exact integers).
        // A similar pair always survives via its first shared prefix token,
        // so keeping pairs where ANY match passes is lossless.
        val cand = prefixes
          .select(col("doc_id").as("a_id"), col("source"), col("t"),
            col("rn").as("pa"), col("n").as("na"))
          .join(prefixes.select(col("doc_id").as("b_id"), col("source"),
            col("t"), col("rn").as("pb"), col("n").as("nb")),
            Seq("source", "t"))
          .filter(col("a_id") < col("b_id"))
          .filter(least(col("na"), col("nb")) * 2 >= greatest(col("na"), col("nb")))
          .filter(lit(1) + least(col("na") - col("pa"), col("nb") - col("pb"))
            >= expr("(na + nb + 2) div 3"))
          .select("a_id", "b_id").distinct()
        cand
          .join(docs.select(col("doc_id").as("a_id"), col("ts").as("ta")), Seq("a_id"))
          .join(docs.select(col("doc_id").as("b_id"), col("ts").as("tb")), Seq("b_id"))
          .select(col("a_id"), col("b_id"),
            graft.functions.ArrayFunctions.jaccardSorted(col("ta"), col("tb")).as("jac"))
          .filter(col("jac") >= 0.5)
          .orderBy(col("a_id"), col("b_id"))
      },
      s"""WITH t AS (SELECT doc_id, source, list_distinct(${shinglesSql(ToksSql, 2)}) AS ts FROM documents)
         |SELECT a_id, b_id, jac FROM (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |    CASE WHEN len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) = 0 THEN 0.0
         |      ELSE len(list_intersect(a.ts, b.ts))::DOUBLE
         |        / (len(a.ts)::DOUBLE + len(b.ts)::DOUBLE - len(list_intersect(a.ts, b.ts))::DOUBLE)
         |    END AS jac
         |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE jac >= 0.5
         |ORDER BY a_id, b_id""".stripMargin),

    "dedup_simhash" -> Q(
      "SimHash (16-bit) document signatures: md5-nibble majority vote over distinct tokens",
      (s, dir) => simhashOf(s, dir).orderBy(col("doc_id")),
      s"""WITH $SimhashSqlCtes
         |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin),

    "dedup_simhash_near" -> Q(
      "SimHash near-dup pairs: 4×4-bit band blocking (lossless for Hamming ≤ 3 by pigeonhole) + exact bit_count verify. The band join runs in VALUE space — signatures aggregate to (simhash, multiplicity) first, at most 2^16 rows regardless of corpus size — so candidate generation is bounded by the signature space where a doc-level band join goes quadratic once n outgrows 2^16; pair counts recombine by multiplicity products and C(m,2) (the dedup_image_phash argument)",
      (s, dir) => {
        // band b value = bits [4b, 4b+4) of the signature; any pair with
        // Hamming distance ≤ 3 differs in at most 3 bands, so it must
        // agree exactly on at least one — candidate generation is lossless.
        // The templated corpus makes 16-bit signatures collide heavily, so
        // the full pair list is quadratic-ish; report the distance
        // histogram — the operator pipeline (band block + exact verify) is
        // identical, the output stays O(max distance).
        val vals = simhashOf(s, dir)
          .groupBy(col("simhash")).agg(count(lit(1)).as("cnt"))
          .persist()
        val bands = vals.select(col("simhash"), col("cnt"),
            explode(array((0 until 4).map(lit): _*)).as("b"))
          .withColumn("bv", expr("shiftright(simhash, b * 4) % 16"))
        val cross = bands
          .select(col("simhash").as("sa"), col("cnt").as("ca"), col("b"), col("bv"))
          .join(bands.select(col("simhash").as("sb"), col("cnt").as("cb"),
            col("b"), col("bv")), Seq("b", "bv"))
          .filter(col("sa") < col("sb"))
          .select("sa", "sb", "ca", "cb").distinct()
          .select(bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"),
            (col("ca") * col("cb")).as("np"))
          .filter(col("hamming") <= 3)
        val within = vals
          .select(lit(0L).as("hamming"),
            expr("(cnt * (cnt - 1)) div 2").as("np"))
          .filter(col("np") > 0)
        cross.unionAll(within)
          .groupBy(col("hamming"))
          .agg(sum(col("np")).as("n_pairs"))
          .orderBy(col("hamming"))
      },
      s"""WITH $SimhashSqlCtes,
         |bands AS (
         |  SELECT doc_id, simhash, g.b, (simhash >> (g.b * 4)) % 16 AS bv
         |  FROM sims, (SELECT unnest(range(0, 4)) AS b) g),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bands x JOIN bands y ON x.b = y.b AND x.bv = y.bv
         |   AND x.doc_id < y.doc_id)
         |SELECT hamming, COUNT(*) AS n_pairs FROM (
         |  SELECT CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
         |  FROM cand
         |  JOIN sims sa ON cand.a_id = sa.doc_id
         |  JOIN sims sb ON cand.b_id = sb.doc_id)
         |WHERE hamming <= 3
         |GROUP BY hamming
         |ORDER BY hamming""".stripMargin),

    "text_tfidf" -> Q(
      "TF-IDF-style top-3 terms per document: tf × N/df rarity weighting (rational IDF — java Math.log and libm ln disagree in the last ulp, so the classic ln(N/df) cannot hash-match cross-engine; the rational form is bit-exact double mul/div), ranking window with deterministic tie-break",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val toks = T.documentsSpread(s, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        // NOT persisted (r14 A/B): tf is (doc_id, tok)-grained — nearly
        // corpus-sized — and caching it measured SLOWER (1.21→1.49 s at
        // sf0.1) than recomputing the hash-agg for the df build
        val tf = toks.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        val n = T.documents(s, dir).agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("tok"))
        tf.join(broadcast(dfreq), Seq("tok"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("tok"),
            (col("tf").cast("double") * col("n_docs").cast("double")
              / col("df").cast("double")).as("score"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select("doc_id", "rnk", "tok", "score")
          .orderBy(col("doc_id"), col("rnk"))
      },
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id, rnk, tok, score FROM (
        |  SELECT doc_id, tok,
        |    CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) DESC,
        |        tok) AS rnk
        |  FROM tf JOIN dfreq USING (tok), n)
        |WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin),

    "text_cooccur" -> Q(
      "Token co-occurrence with rational lift: top-20 within-document token pairs scored by P(a,b)/(P(a)P(b)) — the association-mining shape (PMI without the ln, which is not bit-portable)",
      (s, dir) => {
        val docToks = T.documentsSpread(s, dir)
          .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
          .persist()
        // NOT pre-materialized (r15 A/B): the consuming branches race the
        // cold cache and duplicate the tokenize+explode subtree (~2× CPU,
        // job-time 6.0 s vs 3.1 s wall), but an explicit count() to fill
        // the cache first measured SLOWER wall (0.90→1.31 s full-bench) —
        // the duplicated builds overlap on idle cores while the count is
        // a serial barrier. On a saturated cluster the count wins CPU;
        // the bench optimizes wall on the measured box.
        val tokDocs = docToks.groupBy(col("tok")).agg(count(lit(1)).as("n_tok"))
        val n = T.documents(s, dir).agg(count(lit(1)).as("n_docs"))
        // within-doc pair generation: self-join blocked by doc_id — the
        // shuffle key is the document, pairs never leave their block
        val pairs = docToks.select(col("doc_id"), col("tok").as("a"))
          .join(docToks.select(col("doc_id"), col("tok").as("b")), Seq("doc_id"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
        pairs
          .join(broadcast(tokDocs.select(col("tok").as("a"), col("n_tok").as("n_a"))), Seq("a"))
          .join(broadcast(tokDocs.select(col("tok").as("b"), col("n_tok").as("n_b"))), Seq("b"))
          .crossJoin(broadcast(n))
          .select(col("a"), col("b"), col("n_ab"),
            (col("n_ab").cast("double") * col("n_docs").cast("double")
              / (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
          .orderBy(col("n_ab").desc, col("a"), col("b"))
          .limit(20)
      },
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |td AS (SELECT tok, COUNT(*) AS n_tok FROM dt GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |pairs AS (
        |  SELECT x.tok AS a, y.tok AS b, COUNT(*) AS n_ab
        |  FROM dt x JOIN dt y ON x.doc_id = y.doc_id AND x.tok < y.tok
        |  GROUP BY x.tok, y.tok)
        |SELECT a, b, n_ab,
        |  CAST(n_ab AS DOUBLE) * CAST(n_docs AS DOUBLE)
        |    / (CAST(ta.n_tok AS DOUBLE) * CAST(tb.n_tok AS DOUBLE)) AS lift
        |FROM pairs
        |JOIN td ta ON pairs.a = ta.tok
        |JOIN td tb ON pairs.b = tb.tok, n
        |ORDER BY n_ab DESC, a, b LIMIT 20""".stripMargin),

    "curation_pipeline" -> Q(
      "Composite training-data curation: quality gate → exact dedup → MinHash-LSH near-dup cluster resolution (connected components, keep component-minimum id), the end-to-end 100 TB document pipeline",
      (s, dir) => {
        // Stage 1: quality gate (uniq-token ratio and length floor).
        val toks = tokens(col("text"))
        val quality = T.documentsSpread(s, dir)
          .select(col("doc_id"), col("text"), toks.as("toks"))
          .select(col("doc_id"), col("text"), col("toks"),
            size(col("toks")).cast("long").as("n_tok"),
            size(array_distinct(col("toks"))).cast("long").as("n_uniq"))
          .filter(col("n_tok") >= 20 &&
            col("n_uniq").cast("double") / col("n_tok").cast("double") >= 0.15)
        // Stage 2: exact dedup on normalized fingerprint, keep min doc_id.
        // row_number + rn=1 plans with WindowGroupLimit (per-partition
        // top-1 before the shuffle sort), which beats the
        // min(struct(doc_id, toks)) arg-min formulation here: an array
        // inside the aggregation buffer forces sort-based aggregation
        // (measured 2× slower at sf0.1).
        val exact = quality
          .withColumn("fp", fingerprint(col("text")))
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("fp")).orderBy(col("doc_id"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("toks"))
          .persist()
        // Stage 3: near-dup removal — the shared LSH stage over survivors,
        // exact Jaccard ≥ 0.8 verify, then CLUSTER resolution: connected
        // components over the verified pairs, keep the component-minimum
        // id. (Round 2 greedily dropped every b_id of a pair, which
        // over-deletes on overlapping clusters — a–b, b–c must keep
        // exactly a, as one three-member cluster.)
        val (staged, cand) = lshStage(exact)
        val pairs = lshVerifiedPairs(staged, cand, 0.8).select("a_id", "b_id")
        val drop = graft.operators.ConnectedComponents.dropSet(pairs)
        exact.select(col("doc_id"))
          .join(drop, Seq("doc_id"), "left_anti")
          .orderBy(col("doc_id"))
      },
      s"""WITH RECURSIVE quality AS (
         |  SELECT doc_id, text, $ToksSql AS toks FROM documents
         |  WHERE len($ToksSql) >= 20
         |    AND len(list_distinct($ToksSql))::DOUBLE / len($ToksSql)::DOUBLE >= 0.15),
         |exact AS (
         |  SELECT doc_id, toks FROM quality
         |  QUALIFY row_number() OVER (
         |    PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
         |    ORDER BY doc_id) = 1),
         |sigs AS (
         |  SELECT doc_id, list_distinct(toks) AS tset,
         |    ${(0 until 4).map(seed =>
              s"list_min(list_transform(${shinglesSql("toks", 3)}, s -> md5('$seed|' || s))) AS m$seed").mkString(", ")}
         |  FROM exact),
         |bands AS (
         |  SELECT doc_id, tset, 0 AS bi, m0 || m1 AS bv FROM sigs
         |  UNION ALL SELECT doc_id, tset, 1, m2 || m3 FROM sigs),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.tset AS ta, b.tset AS tb
         |  FROM bands a JOIN bands b
         |    ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT a_id, b_id FROM cand
         |  WHERE len(list_intersect(ta, tb))::DOUBLE
         |    / (len(ta)::DOUBLE + len(tb)::DOUBLE - len(list_intersect(ta, tb))::DOUBLE) >= 0.8),
         |${PipelineQueries.CcSqlCtes}
         |SELECT doc_id FROM exact
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE cluster_id <> id)
         |ORDER BY doc_id""".stripMargin),

    "text_top_tokens" -> Q(
      "Corpus token-frequency heavy hitters: explode + count + top-k (exact; CMS sketch is the streaming substitute)",
      (s, dir) => T.documents(s, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20),
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin),

    "text_lang_id" -> Q(
      "Language ID: stopword-marker scoring with deterministic argmax",
      (s, dir) => {
        val toks = tokens(col("text"))
        val hits = LangMarkers.map { case (l, ms) => l -> markerHits(toks, ms) }
        val mx = greatest(hits.map(_._2): _*)
        val pred = hits.foldLeft(when(mx === 0L, lit("und"))) {
          case (acc, (l, h)) => acc.when(h === mx, lit(l))
        }
        T.documents(s, dir)
          .select(col("doc_id"), pred.as("lang_pred"), mx.as("n_hits"))
          .orderBy(col("doc_id"))
      }, {
        val hitSql = LangMarkers.map { case (l, ms) =>
          l -> s"CAST(len(list_filter($ToksSql, t -> list_contains(${markersSqlList(ms)}, t))) AS BIGINT)"
        }
        val mxSql = s"greatest(${hitSql.map(_._2).mkString(", ")})"
        val caseSql = hitSql.map { case (l, h) =>
          s"WHEN $h = $mxSql THEN '$l'"
        }.mkString(" ")
        s"""SELECT doc_id,
           |  CASE WHEN $mxSql = 0 THEN 'und' $caseSql END AS lang_pred,
           |  $mxSql AS n_hits
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    "text_quality" -> Q(
      "Quality scoring: length, uniqueness, stopword-density components (training-data filter)",
      (s, dir) => {
        // Split once, then derive every metric from the staged array —
        // re-tokenizing per metric would rerun the regex split 4×.
        val staged = T.documents(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
            aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t).cast("long"))
              .as("sum_len"),
            markerHits(col("toks"), LangMarkers.head._2).as("stop_hits"))
        val nTok = col("n_tokens"); val nUniq = col("n_uniq")
        val uniqRatio = nUniq.cast("double") / nTok.cast("double")
        val meanLen = col("sum_len").cast("double") / nTok.cast("double")
        val stopRatio = col("stop_hits").cast("double") / nTok.cast("double")
        val lenScore = least(lit(1.0), nTok.cast("double") / lit(100.0))
        val quality = lit(0.4) * uniqRatio + lit(0.3) * (lit(1.0) - stopRatio) + lit(0.3) * lenScore
        staged
          .select(col("doc_id"), nTok.as("n_tokens"), nUniq.as("n_uniq"),
            uniqRatio.as("uniq_ratio"), meanLen.as("mean_tok_len"),
            stopRatio.as("stop_ratio"), quality.as("quality"))
          .orderBy(col("doc_id"))
      }, {
        val nTok = s"CAST(len($ToksSql) AS BIGINT)"
        val nUniq = s"CAST(len(list_distinct($ToksSql)) AS BIGINT)"
        val sumLen = s"CAST(list_sum(list_transform($ToksSql, t -> length(t))) AS BIGINT)"
        val stopHits = s"CAST(len(list_filter($ToksSql, t -> list_contains(${markersSqlList(LangMarkers.head._2)}, t))) AS BIGINT)"
        s"""SELECT doc_id,
           |  $nTok AS n_tokens, $nUniq AS n_uniq,
           |  $nUniq::DOUBLE / $nTok::DOUBLE AS uniq_ratio,
           |  $sumLen::DOUBLE / $nTok::DOUBLE AS mean_tok_len,
           |  $stopHits::DOUBLE / $nTok::DOUBLE AS stop_ratio,
           |  0.4 * ($nUniq::DOUBLE / $nTok::DOUBLE)
           |    + 0.3 * (1.0 - $stopHits::DOUBLE / $nTok::DOUBLE)
           |    + 0.3 * least(1.0, $nTok::DOUBLE / 100.0) AS quality
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    "text_readability" -> Q(
      "Readability scoring (Flesch reading-ease + Flesch-Kincaid grade, the " +
        "classic pre-LLM quality gate still used to band corpora by " +
        "difficulty for curriculum mixing): sentences = '[.!?]+' runs " +
        "(min 1), syllables = per-word count of '[aeiouy]+' vowel groups " +
        "(min 1 per word — 'xyz' and '7' still carry a syllable). Entirely " +
        "row-local regex + integer counting; the two scores are fixed-shape " +
        "IEEE expressions over exact integer ratios, so both engines round " +
        "identically. Scan-bandwidth-bound at any scale",
      (s, dir) => {
        val staged = T.documentsSpread(s, dir)
          .select(col("doc_id"),
            tokenCount(col("text")).as("n_words"),
            greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+")).cast("long"))
              .as("n_sentences"),
            aggregate(tokens(lower(col("text"))), lit(0L), (acc, t) =>
              acc + greatest(lit(1L),
                regexp_count(t, lit("[aeiouy]+")).cast("long")))
              .as("n_syllables"))
        val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
        val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
        staged.select(col("doc_id"),
          col("n_words"), col("n_sentences"), col("n_syllables"),
          wps.as("words_per_sentence"), spw.as("syllables_per_word"),
          (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch_ease"),
          (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"))
          .orderBy(col("doc_id"))
      }, {
        val nW = s"CAST(len($ToksSql) AS BIGINT)"
        val nS = "greatest(CAST(1 AS BIGINT), CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))"
        val nSyl = "CAST(list_sum(list_transform(string_split(lower(text), ' '), " +
          "t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+'))))) AS BIGINT)"
        s"""WITH c AS (
           |  SELECT doc_id, $nW AS n_words, $nS AS n_sentences, $nSyl AS n_syllables
           |  FROM documents)
           |SELECT doc_id, n_words, n_sentences, n_syllables,
           |  n_words::DOUBLE / n_sentences::DOUBLE AS words_per_sentence,
           |  n_syllables::DOUBLE / n_words::DOUBLE AS syllables_per_word,
           |  206.835 - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
           |    - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE) AS flesch_ease,
           |  0.39 * (n_words::DOUBLE / n_sentences::DOUBLE)
           |    + 11.8 * (n_syllables::DOUBLE / n_words::DOUBLE) - 15.59 AS fk_grade
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    "text_code_detect" -> Q(
      "Code-vs-prose routing signal (corpora route code to a separate " +
        "pipeline with its own dedup/quality rules — StarCoder/The Stack " +
        "preprocessing): per document — code-symbol character density " +
        "('{}();=[]<>'), code-keyword token hits, and the routing flag " +
        "(symbol density >= 3% OR keywords >= 15% of tokens). Entirely " +
        "row-local regex + token counting, integer ratios only at the " +
        "comparison (cross-multiplied, so no float threshold drift); " +
        "scan-bandwidth-bound at any scale",
      (s, dir) => {
        val CodeKw = Seq("def", "class", "return", "import", "if", "else",
          "for", "while", "function", "var", "val", "void", "int")
        val staged = T.documentsSpread(s, dir)
          .select(col("doc_id"),
            length(col("text")).cast("long").as("n_chars_t"),
            regexp_count(col("text"), lit("[{}();=\\[\\]<>]")).cast("long")
              .as("n_sym"),
            tokenCount(col("text")).as("n_tokens"),
            markerHits(tokens(col("text")), CodeKw).as("kw_hits"))
        staged.select(col("doc_id"), col("n_sym"), col("kw_hits"),
          (col("n_sym").cast("double") / col("n_chars_t").cast("double"))
            .as("sym_density"),
          // integer cross-multiplication: n_sym/n_chars >= 3/100 and
          // kw/n_tokens >= 15/100 without any double threshold
          (col("n_sym") * 100L >= col("n_chars_t") * 3L ||
            col("kw_hits") * 100L >= col("n_tokens") * 15L).as("is_code"))
          .orderBy(col("doc_id"))
      }, {
        val kws = markersSqlList(Seq("def", "class", "return", "import",
          "if", "else", "for", "while", "function", "var", "val", "void",
          "int"))
        s"""WITH c AS (
           |  SELECT doc_id,
           |    CAST(length(text) AS BIGINT) AS n_chars_t,
           |    CAST(len(regexp_extract_all(text, '[{}();=\\[\\]<>]')) AS BIGINT) AS n_sym,
           |    CAST(len($ToksSql) AS BIGINT) AS n_tokens,
           |    CAST(len(list_filter($ToksSql, t -> list_contains($kws, t))) AS BIGINT) AS kw_hits
           |  FROM documents)
           |SELECT doc_id, n_sym, kw_hits,
           |  n_sym::DOUBLE / n_chars_t::DOUBLE AS sym_density,
           |  (n_sym * 100 >= n_chars_t * 3 OR kw_hits * 100 >= n_tokens * 15) AS is_code
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    "d2_hybrid_search" -> Q(
      "D2 hybrid ranked search: 0.7·vector-cosine + 0.3·text-rank (reference: scripts/migrate_providers.sql:63-118)",
      (s, dir) => {
        val docs = T.documents(s, dir)
        val emb = T.embeddings(s, dir)
        val q = emb.filter(col("vec_id") === 0L).select(col("embedding").as("qv"))
        docs.join(emb, col("doc_id") === col("vec_id"))
          .crossJoin(broadcast(q))
          .select(col("doc_id"),
            cosineSim(col("embedding"), col("qv")).as("sim"),
            tfRank(tokens(col("text")), QueryTerms).as("rank"))
          .withColumn("score", lit(0.7) * col("sim") + lit(0.3) * col("rank"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      }, {
        val rankSql = QueryTerms.map { t =>
          val tf = s"len(list_filter($ToksSql, x -> x = '$t'))::DOUBLE"
          s"($tf / ($tf + 1.0))"
        }.mkString("(", " + ", s") / ${QueryTerms.length}.0")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT doc_id, sim, rank, 0.7 * sim + 0.3 * rank AS score FROM (
           |  SELECT doc_id,
           |    ${VectorSearchQueries.cosSqlPublic("embedding", "qv")} AS sim,
           |    $rankSql AS rank
           |  FROM documents JOIN embeddings ON doc_id = vec_id, q)
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
      }),

    "f2_f4_tsrank" -> Q(
      "F2-F4 full-text pipeline: lowercase→split→stopword-filter→stem-lite→rational-damped TF rank (reference: scripts/init_db.sql:66-71,120-127)",
      (s, dir) => {
        import graft.functions.EmailFunctions
        T.documents(s, dir)
          .select(col("doc_id"),
            graft.functions.TsTokensFunctions
              .tsTokensFast(coalesce(col("text"), lit(""))).as("tt"))
          .select(col("doc_id"),
            EmailFunctions.tsRankOnTokens(col("tt"), "joins the running windows").as("rank"))
          .filter(col("rank") > 0.0)
          .orderBy(col("rank").desc, col("doc_id"))
          .limit(50)
      }, {
        import graft.functions.EmailFunctions
        val stopList = EmailFunctions.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
        val stem = (t: String) =>
          s"""(CASE WHEN len($t) > 5 AND ends_with($t, 'ies') THEN substr($t, 1, len($t)-3) || 'y'
             | WHEN len($t) > 6 AND ends_with($t, 'sses') THEN substr($t, 1, len($t)-2)
             | WHEN len($t) > 5 AND ends_with($t, 'ing') THEN substr($t, 1, len($t)-3)
             | WHEN len($t) > 4 AND ends_with($t, 'ed') THEN substr($t, 1, len($t)-2)
             | WHEN len($t) > 2 AND ends_with($t, 's') AND NOT (ends_with($t, 'ss')
             |   OR ends_with($t, 'us') OR ends_with($t, 'is')) THEN substr($t, 1, len($t)-1)
             | ELSE $t END)""".stripMargin.replaceAll("\n", " ")
        val toks = s"list_transform(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0 AND NOT list_contains($stopList, t)), t -> ${stem("t")})"
        val terms = EmailFunctions.tsQueryTerms("joins the running windows")
        val rank = terms.map { term =>
          val tf = s"len(list_filter($toks, x -> x = '$term'))::DOUBLE"
          s"($tf / ($tf + 1.0))"
        }.mkString("(", " + ", s") / ${terms.length}.0")
        s"""SELECT doc_id, rank FROM (SELECT doc_id, $rank AS rank FROM documents)
           |WHERE rank > 0.0
           |ORDER BY rank DESC, doc_id LIMIT 50""".stripMargin
      }),

    "f2_f4_tsrank_snowball" -> Q(
      "F2-F4 full-text pipeline with the REAL English Snowball (Porter2) stemmer — the Postgres-fidelity mode (to_tsvector('english', ...) runs exactly this stemmer); rows-only check by documented design: DuckDB's stem() lives in the non-downloadable fts extension, so Porter2 is not oracle-expressible — Porter2Spec pins the stemmer itself with the algorithm's golden vectors",
      (s, dir) => {
        import graft.functions.EmailFunctions
        T.documents(s, dir)
          .select(col("doc_id"),
            graft.functions.TsTokensFunctions
              .tsTokensSnowball(coalesce(col("text"), lit(""))).as("tt"))
          .select(col("doc_id"),
            EmailFunctions.tsRankOnTokens(col("tt"),
              "joins the running windows", snowball = true).as("rank"))
          .filter(col("rank") > 0.0)
          .orderBy(col("rank").desc, col("doc_id"))
          .limit(50)
      },
      None),

    "multimodal_meta" -> Q(
      "Multimodal column plumbing: opaque binary payload + typed metadata (byte length, digest, magic prefix)",
      (s, dir) => {
        val blob = col("text").cast("binary")
        T.documents(s, dir)
          .select(col("doc_id"),
            octet_length(blob).cast("long").as("n_bytes"),
            sha2(blob, 256).as("digest"),
            lower(hex(substring(blob, 1, 4))).as("magic"))
          .orderBy(col("doc_id"))
      },
      // BYTE semantics on both sides: DuckDB's substring is character-
      // based (and ::BLOB rejects non-ASCII), so the oracle slices the
      // hex of the UTF-8 encoding — first 4 BYTES, exactly like Spark's
      // substring over the binary cast. ASCII-only test data hides the
      // difference; a multi-byte first character would hash-mismatch the
      // character-based spelling.
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS digest,
        |  lower(substr(hex(encode(text)), 1, 8)) AS magic
        |FROM documents ORDER BY doc_id""".stripMargin),

    "c6_run_stats" -> Q(
      "C6 run-status counters as a deterministic aggregation over per-row status (reference: src/etl_pipeline.py:24-30,100-108)",
      (s, dir) => T.documents(s, dir)
        .withColumn("status",
          when(col("n_chars") >= 300, "processed")
            .when(col("n_chars") >= 100, "skipped")
            .otherwise("failed"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("status")),
      """SELECT CASE WHEN n_chars >= 300 THEN 'processed'
        |            WHEN n_chars >= 100 THEN 'skipped'
        |            ELSE 'failed' END AS status,
        |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY status""".stripMargin),

    "multimodal_decode" -> Q(
      "Multimodal decode: partition-level codec loop over binary payloads (stubbed codec, real plumbing) — rows-only check; multimodal_decode_fixed pins the same path to a hash row",
      (s, dir) => graft.operators.MultiModal
        .decodeMeta(T.documents(s, dir), "doc_id", "text")
        .toDF()
        .orderBy(col("doc_id")),
      None),

    "multimodal_decode_fixed" -> Q(
      "The multimodal decode path pinned to a DuckDB hash row (the " +
        "bpe_encode_fixed pattern, closing the r11 verdict's rows-only " +
        "multimodal gap): a deterministic synthetic payload per document " +
        "— GIF magic + the doc_id digits for even ids, bare digits for " +
        "odd — runs through the REAL operators.MultiModal.decodeMeta " +
        "partition loop (magic sniff, stub dims from Java's 31-rolling " +
        "array hashCode, sha256 checksum), and the oracle restates every " +
        "struct field in closed form: the sniff as a hex-prefix CASE, the " +
        "int32-wrapping rolling hash as a recursive byte fold with " +
        "Java-remainder/arithmetic-shift spelled exactly, the checksum as " +
        "sha256 over the (deliberately ASCII) payload. The jpeg/png sniff " +
        "branches stay spec-covered (MultiModalSpec); DuckDB's sha256 " +
        "only hashes VARCHAR, so the fixture payload is ASCII by design",
      (s, dir) => {
        val payloadStr =
          when(col("doc_id") % 2 === 0,
            concat(lit("GIF"), col("doc_id").cast("string")))
            .otherwise(col("doc_id").cast("string"))
        graft.operators.MultiModal.decodeMeta(
          T.documents(s, dir)
            .select(col("doc_id"), encode(payloadStr, "UTF-8").as("payload")),
          "doc_id", "payload")
          .toDF()
          // dtype-portability policy (RegistryDeterminismSpec): computed
          // ints widen to long in oracle-checked outputs
          .select(col("doc_id"), col("format"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_bytes"), col("checksum"))
          .orderBy(col("doc_id"))
      },
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'GIF' || CAST(doc_id AS VARCHAR)
        |         ELSE CAST(doc_id AS VARCHAR) END AS p
        |  FROM documents),
        |hx AS (SELECT doc_id, p, hex(encode(p)) AS h,
        |         CAST(octet_length(encode(p)) AS BIGINT) AS nb
        |       FROM base),
        |roll AS (
        |  SELECT doc_id, h, nb, 0 AS i, CAST(1 AS BIGINT) AS acc FROM hx
        |  UNION ALL
        |  SELECT doc_id, h, nb, i + 1,
        |    ((31 * acc +
        |      CASE WHEN CAST(('0x' || substr(h, i * 2 + 1, 2)) AS BIGINT) > 127
        |           THEN CAST(('0x' || substr(h, i * 2 + 1, 2)) AS BIGINT) - 256
        |           ELSE CAST(('0x' || substr(h, i * 2 + 1, 2)) AS BIGINT) END)
        |     % 4294967296 + 4294967296) % 4294967296
        |  FROM roll WHERE i < nb),
        |hsg AS (SELECT doc_id,
        |          CASE WHEN acc >= 2147483648 THEN acc - 4294967296
        |               ELSE acc END AS hs
        |        FROM roll WHERE i = nb)
        |SELECT b.doc_id,
        |  CASE WHEN x.nb >= 4 AND substr(x.h, 1, 6) = '474946' THEN 'gif'
        |       ELSE 'bin' END AS format,
        |  CAST(64 + abs(hs % 1024) AS BIGINT) AS width,
        |  CAST(64 + abs(((hs - ((hs % 1024 + 1024) % 1024)) // 1024) % 1024)
        |    AS BIGINT) AS height,
        |  x.nb AS n_bytes,
        |  substr(sha256(b.p), 1, 16) AS checksum
        |FROM base b JOIN hx x USING (doc_id) JOIN hsg USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    "f19_embed_text" -> Q(
      "F19 embedding-input assembly: header + truncated body (reference: src/embeddings.py:109-149)",
      (s, dir) => {
        val et = concat_ws("\n",
          concat(lit("Source: "), col("source")),
          concat(lit("Lang: "), col("lang")),
          substring(col("text"), 1, 200))
        T.documents(s, dir)
          .select(col("doc_id"), md5(et).as("fp"),
            length(et).cast("long").as("n_chars"))
          .orderBy(col("doc_id"))
      },
      // concat_ws on BOTH sides: Spark's concat_ws skips a NULL piece
      // (and its separator) where a plain || chain would null-poison the
      // whole string — latent on the no-null test corpus, divergent the
      // moment a metadata field is null
      """SELECT doc_id,
        |  md5(concat_ws(chr(10), 'Source: ' || source, 'Lang: ' || lang,
        |      substr(text, 1, 200))) AS fp,
        |  CAST(length(concat_ws(chr(10), 'Source: ' || source, 'Lang: ' || lang,
        |      substr(text, 1, 200))) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    "text_ngram_novelty" -> Q(
      "Contribution scoring: the fraction of each document's distinct 3-grams not seen in any LOWER-id document (arrival order = doc_id) — the marginal-novelty signal behind contribution-based pruning: boilerplate re-crawls score near 0, fresh content near 1. One (gram → min doc_id) aggregation, grams as xxhash64 longs, then a row-count-bounded join back — the same two-pass shape as text_lm_quality's model join",
      (s, dir) => {
        val grams = T.documentsSpread(s, dir)
          .select(col("doc_id"),
            explode(graft.functions.HashedShinglesFunctions
              .hashedShingles(tokens(col("text")), 3)).as("g"))
        val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
        grams.join(first, Seq("g"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            (col("n_novel").cast("double") / col("n_grams").cast("double"))
              .as("novelty"))
          .orderBy(col("doc_id"))
      },
      s"""WITH grams AS (
         |  SELECT doc_id, unnest(list_distinct(${shinglesSql(ToksSql, 3)})) AS g
         |  FROM documents),
         |first AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS novelty
         |FROM grams JOIN first USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "f3_phrase_search" -> Q(
      "F3 phrase search (tsquery's FOLLOWED-BY operator semantics): documents containing the exact adjacent-token phrase 'key agg', with first match position and the space-bounded non-overlapping occurrence count — a row-local string scan, zero shuffle, fully pushdown-friendly (at scale a bloom/ngram index would pre-filter the scan; the scan itself is the fallback every engine needs)",
      (s, dir) => {
        val needle = " key agg "
        val padded = concat(lit(" "), col("text"), lit(" "))
        T.documents(s, dir)
          .select(col("doc_id"),
            instr(padded, needle).cast("long").as("first_pos"),
            (size(split(padded, needle)) - 1).cast("long").as("n_occur"))
          .filter(col("n_occur") > 0L)
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  CAST(strpos(' ' || text || ' ', ' key agg ') AS BIGINT) AS first_pos,
        |  CAST(len(string_split(' ' || text || ' ', ' key agg ')) - 1 AS BIGINT)
        |    AS n_occur
        |FROM documents
        |WHERE len(string_split(' ' || text || ' ', ' key agg ')) - 1 > 0
        |ORDER BY doc_id""".stripMargin),

    "rank_bm25" -> Q(
      "BM25 ranked retrieval (k1=1.2, b=0.75) over the corpus for the fixed query terms, with the rational-odds idf (N-df+0.5)/(df+0.5) — the inside of BM25's log, same ranking monotonicity in df, zero transcendentals so the scores hash bit-for-bit. Corpus statistics (N, avgdl, per-term df) come from ONE aggregation that broadcasts as a single row; scoring is then row-local tf/length arithmetic and the result is a TakeOrdered top-10 — at 100 TB this is a scan plus a k-row sort, no shuffle beyond the stats row",
      (s, dir) => {
        val base = T.documentsSpread(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("dl", size(col("toks")).cast("long"))
        val dfAggs = QueryTerms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
            .as(s"df_$i")
        }
        val stats = base.agg(
          count(lit(1)).as("n_docs"),
          (sum(col("dl")).as("sum_dl") +: dfAggs): _*)
          .withColumn("avgdl",
            col("sum_dl").cast("double") / col("n_docs").cast("double"))
        val score = QueryTerms.zipWithIndex.map { case (t, i) =>
          val tf = size(filter(col("toks"), x => x === t)).cast("double")
          val df = col(s"df_$i").cast("double")
          val idf = (col("n_docs").cast("double") - df + lit(0.5)) / (df + lit(0.5))
          idf * (tf * lit(2.2)) /
            (tf + lit(1.2) * (lit(0.25) + lit(0.75)
              * col("dl").cast("double") / col("avgdl")))
        }.reduce(_ + _)
        base.crossJoin(broadcast(stats))
          .select(col("doc_id"), score.as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      }, {
        val dfCols = QueryTerms.zipWithIndex.map { case (t, i) =>
          s"CAST(SUM(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS df_$i"
        }.mkString(",\n  ")
        val scoreSql = QueryTerms.zipWithIndex.map { case (t, i) =>
          val tf = s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)"
          val df = s"CAST(df_$i AS DOUBLE)"
          s"((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5)) * ($tf * 2.2) / " +
            s"($tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))"
        }.mkString("(", " + ", ")")
        s"""WITH base AS (
           |  SELECT doc_id, $ToksSql AS toks,
           |    CAST(len($ToksSql) AS BIGINT) AS dl FROM documents),
           |stats AS (
           |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
           |  $dfCols
           |  FROM base),
           |s2 AS (SELECT *, CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)
           |  AS avgdl FROM stats)
           |SELECT doc_id, $scoreSql AS score
           |FROM base, s2 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
      }),

    "vocab_coverage" -> Q(
      "Tokenizer-vocabulary coverage audit: the top-256 corpus vocabulary (count desc, token asc — a deterministic total order) from one token-count pass, then each source's token stream scored against it — occurrences, OOV occurrences, OOV rate, distinct OOV types. The report run before freezing a vocab size: the vocab is bounded (top-K rows ⇒ TakeOrdered + broadcast), the corpus streams through a broadcast hash join with no corpus-side shuffle, and the per-source rollup is the only exchange",
      (s, dir) => {
        val toks = T.documentsSpread(s, dir)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
        // Top-K by (count desc, token asc): a total order, so the cut is
        // deterministic on both engines even with tied counts.
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(256)
          .select(col("tok"), lit(1L).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
            countDistinct(when(col("in_vocab").isNull, col("tok")))
              .as("oov_types"))
          .select(col("source"), col("n_tokens"), col("n_oov"),
            (col("n_oov").cast("double") / col("n_tokens").cast("double"))
              .as("oov_rate"),
            col("oov_types"))
          .orderBy(col("source"))
      },
      s"""WITH toks AS (SELECT source, unnest($ToksSql) AS tok FROM documents),
         |vocab AS (
         |  SELECT tok FROM toks GROUP BY tok
         |  ORDER BY COUNT(*) DESC, tok LIMIT 256)
         |SELECT source,
         |  COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS oov_rate,
         |  COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END) AS oov_types
         |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
         |GROUP BY source ORDER BY source""".stripMargin),
  )
}
