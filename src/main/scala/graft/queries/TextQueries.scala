package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Cleanup.PersistTrackedOps
import graft.core.{Memo, Tables}
import graft.functions.Text

/** LLM-data-pipeline text operators over `documents` (driver mandate:
  * dedup, text analysis, multimodal plumbing — SURVEY §0). Every query has
  * an exact DuckDB oracle; shared constants (stopwords, markers, minhash
  * seeds) come from [[graft.functions.Text]] and the oracle SQL is
  * *generated* from them so the two sides cannot drift.
  */
object TextQueries {

  /** Bloom hash count (q116), shared by the Spark plan and the generated
    * oracle SQL. k=7 with 10 bits/item ≈ the 3% fpp operating point. */
  private val BloomK = 7

  private val stopList = Text.stopwords.map(w => s"'$w'").mkString(", ")
  private def markerList(lang: String): String =
    Text.langMarkers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")

  /** The fixed logistic quality model shared by q117 (scoring) and q211
    * (calibration audit): sigmoid over the q26 feature set, output
    * rounded to 6 (transcendental — q112 lesson). Column and oracle
    * text are generated from this one definition. */
  private def qualityP: org.apache.spark.sql.Column = {
    val nTok = Text.tokenCount(col("text"))
    val stopR = round(
      Text.stopwordCount(col("text")).cast("double") / nTok, 4)
    val punR = round(
      Text.punctCount(col("text")).cast("double") / length(col("text")), 4)
    val logit = lit(-2.0) +
      lit(0.45) * log(length(col("text")).cast("double")) +
      lit(3.0) * stopR - lit(6.0) * punR -
      lit(0.002) * nTok.cast("double")
    round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
  }

  /** DuckDB mirror of [[qualityP]] (expects a `text` column in scope). */
  private lazy val duckQualityP: String =
    s"""round(1.0 / (1.0 + exp(-(-2.0
       |    + 0.45 * ln(CAST(length(text) AS DOUBLE))
       |    + 3.0 * round(CAST(len(list_filter($duckTokens, x -> x IN ($stopList))) AS DOUBLE)
       |                  / len(string_split_regex(trim(text), '\\s+')), 4)
       |    - 6.0 * round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
       |                  / length(text), 4)
       |    - 0.002 * CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)))), 6)""".stripMargin

  // DuckDB fragments mirroring Text.* definitions exactly.
  private val duckTokens = """string_split_regex(trim(lower(text)), '\s+')"""

  /** Count-min sketch shape (q78): 4 hash rows (reusing the minhash LCG
    * params over the portable md5-int32) × 512 cells. */
  private[graft] val cmsRows: Seq[((Long, Long), Int)] =
    Text.minhashParams.take(4).zipWithIndex
  private[graft] val cmsWidth = 512L
  private def duckMarkerCount(lang: String): String =
    s"len(list_filter($duckTokens, x -> x IN (${markerList(lang)})))"

  /** Language-ID CASE, generated from Text.langMarkers with the same fixed
    * tie-break order (en, de, fr, es). */
  private val duckLangId: String = {
    val Seq(en, de, fr, es) = Seq("en", "de", "fr", "es").map(duckMarkerCount)
    s"""CASE WHEN $en + $de + $fr + $es = 0 THEN 'und'
       | WHEN $en >= greatest($de, $fr, $es) THEN 'en'
       | WHEN $de >= greatest($fr, $es) THEN 'de'
       | WHEN $fr >= $es THEN 'fr'
       | ELSE 'es' END""".stripMargin
  }

  /** MinHash signature per document: shingle → hash32 → k LCG-permuted
    * mins as columns m0..m{k-1} (shared by the q29/q35 candidate pipeline
    * and the q75 signature-similarity estimate). */
  private def minhashSig(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ex = docs.select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk"))
      .select(col("doc_id"), explode(Text.shinglesFromTokens(col("tk"))).as("sh"))
      .select(col("doc_id"), Text.hash32(col("sh")).as("h"))
    val mins = Text.minhashParams.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % Text.minhashMod).as(s"m$i")
    }
    ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs from a signature table: bands → bucket-local
    * ordered pairs. Returns columns (doc_a, doc_b), distinct, unordered. */
  private def candidatesFromSig(sig: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nBands = Text.minhashParams.size / Text.bandSize
    val bandCols = (0 until nBands).map { b =>
      val lo = b * Text.bandSize
      struct(lit(b).as("band_idx"),
        concat_ws("|", (lo until lo + Text.bandSize).map(i => col(s"m$i")): _*).as("band_val"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_val"))
    // Bucket-local pair generation: one shuffle to group by band bucket,
    // then ordered pairs via a HOF — no self-join (which would recompute
    // the signature pipeline twice) and no O(n²) work outside a bucket.
    banded.groupBy("band_idx", "band_val")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"
      )).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** Shared LSH candidate generation (q29 and the q35 verify). */
  private def minhashCandidates(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    candidatesFromSig(minhashSig(docs))

  /** Persisted minhash-LSH candidate-pair artifact (see
    * [[Memo.dir]]): a dozen queries (near-dup clustering, PageRank,
    * BFS, k-core, triangles, leakage/contamination audits) consume the
    * IDENTICAL pair set — the near-dup index a production pipeline
    * builds nightly and serves. Built once per corpus fingerprint;
    * q29 keeps the inline construction so the build logic itself stays
    * hash-gated every run. */
  private def candidatePairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(Memo.dir(dir, "documents", "mh_cand") { t =>
      graft.core.Sinks.parquet(
        minhashCandidates(Tables.load(s, dir, "documents")), s"$t/pairs")
    } + "/pairs")

  /** Persisted min-label-propagation cluster labels over the candidate
    * graph — q76's grain, reused verbatim by q124 (the survivor policy
    * runs on the same clusters the dedup pass found). The iterative
    * rounds run ONCE per corpus on the tuned 4-partition clone (q76's
    * documented phase switch); consumers read (node, cid). */
  private def minhashLabels(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(Memo.dir(dir, "documents", "mh_labels") { t =>
      val fwd = candidatePairs(s, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val ns = graft.core.Tuned.session(s,
        "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.adaptive.enabled" -> "false")
      graft.core.Sinks.parquet(graft.core.Tuned.rehome(
        graft.ops.ConnectedComponents.minLabelPropagation(
          graft.core.Tuned.rehome(fwd, ns)), s), s"$t/labels")
    } + "/labels")

  /** Sorted-neighborhood (SNM) candidate pairs shared by q72/q89: within
    * each (lang, length-bucket) block, sort by the normalized 30-char
    * prefix and pair each doc with its next `w` neighbors only, keeping
    * pairs whose prefix edit distance is ≤ 10 (banded levenshtein — see
    * NOTES round-3). Linear O(n·w) pair space; each position pair is
    * emitted once, (least, greatest) normalizes orientation. */
  private def snmPairs(docs: org.apache.spark.sql.DataFrame, w: Int = 5): org.apache.spark.sql.DataFrame = {
    val base = docs
      .select(col("lang"), expr("CAST(length(text) AS BIGINT) DIV 100").as("lb"),
        col("doc_id"), substring(Text.normalize(col("text")), 1, 30).as("pfx"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "lb").orderBy("pfx", "doc_id")
    val leads = (1 to w).map(k => struct(
      lead(col("doc_id"), k).over(win).as("id2"),
      lead(col("pfx"), k).over(win).as("p2")))
    base
      // window exprs and the generator can't share one projection —
      // materialize the lead array first, explode in the next select
      .select(col("doc_id"), col("pfx"), array(leads: _*).as("nbs"))
      .select(col("doc_id"), col("pfx"), explode(col("nbs")).as("nb"))
      .filter(col("nb.id2").isNotNull)
      .select(least(col("doc_id"), col("nb.id2")).as("doc_a"),
        greatest(col("doc_id"), col("nb.id2")).as("doc_b"),
        levenshtein(col("pfx"), col("nb.p2"), 10).as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Target mixture rates (percent of docs kept per language) for q95;
    * the oracle CASE expression is generated from this single source. */
  private val mixRates: Seq[(String, Int)] =
    Seq("en" -> 40, "de" -> 80, "fr" -> 80, "es" -> 60, "zh" -> 50)
  private val mixDefault = 30

  /** DuckDB CTE chain mirroring [[snmPairs]] (w=5); no `WITH` prefix so
    * it composes after other chains. Ends with `snm(doc_a, doc_b, dist)`. */
  private val duckSnmCtes: String =
    """snmb AS (SELECT doc_id, lang, length(text) // 100 AS lb,
      |    substr(lower(regexp_replace(text, '\s+', ' ', 'g')), 1, 30) AS pfx
      |  FROM documents),
      |snmr AS (SELECT doc_id, pfx, lang, lb,
      |    row_number() OVER (PARTITION BY lang, lb ORDER BY pfx, doc_id) AS rn
      |  FROM snmb),
      |snm AS (SELECT least(a.doc_id, c.doc_id) AS doc_a,
      |    greatest(a.doc_id, c.doc_id) AS doc_b,
      |    CAST(levenshtein(a.pfx, c.pfx) AS INTEGER) AS dist
      |  FROM snmr a JOIN snmr c
      |    ON a.lang = c.lang AND a.lb = c.lb
      |    AND c.rn BETWEEN a.rn + 1 AND a.rn + 5
      |  WHERE levenshtein(a.pfx, c.pfx) <= 10)""".stripMargin

  /** DuckDB CTE chain mirroring [[minhashCandidates]] exactly, generated
    * from the same constants. Ends with `cand(doc_a, doc_b)`; also exposes
    * `ex(doc_id, sh)` for the Jaccard verify. */
  private val duckMinhashCtes: String = {
    val minExprs = Text.minhashParams.zipWithIndex.map { case ((a, b), i) =>
      s"min((CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) * $a + $b) % ${Text.minhashMod}) AS m$i"
    }.mkString(", ")
    val nBands = Text.minhashParams.size / Text.bandSize
    val bandExprs = (0 until nBands).map { b =>
      val lo = b * Text.bandSize
      val cat = (lo until lo + Text.bandSize).map(i => s"CAST(m$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, $cat AS band_val FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, $duckTokens AS w FROM documents),
       |ex AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       |       FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
       |sig AS (SELECT doc_id, $minExprs FROM ex GROUP BY doc_id),
       |bands AS ($bandExprs),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** 32-bit SimHash per document: bitwise majority over token hashes
    * (shared by q34 and the q50 pairing). */
  private def simhashDf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val withH = docs
      .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("tok"))
      .select(col("doc_id"), Text.hash32(col("tok")).as("h"))
    val sums = (0 until 32).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1, 1)
        .otherwise(-1)).as(s"s$i"))
    val agged = withH.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val sim = (0 until 32).map(i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    agged.select(col("doc_id"), sim.as("simhash"))
  }

  /** DuckDB CTE chain mirroring [[simhashDf]]; ends with
    * `sim(doc_id, simhash)`. */
  private val duckSimhashCtes: String = {
    val sumExprs = (0 until 32)
      .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(", ")
    val bitExprs = (0 until 32)
      .map(i => s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS tok FROM documents),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h FROM tok),
       |s AS (SELECT doc_id, $sumExprs FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($bitExprs AS BIGINT) AS simhash FROM s)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // q24 — exact deduplication: hash-groupBy on content digest, keep
    // lowest doc_id (the scalable exact-dedup primitive: one shuffle on
    // the digest, no driver state).
    QuerySpec("q24_docs_exact_dedup",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("keep_id"),
      Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),

    // q25 — token counting (whitespace tokenization) + byte/char lengths.
    QuerySpec("q25_token_counts",
      (s, dir) =>
        Tables.load(s, dir, "documents").select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens"),
          octet_length(col("text")).as("n_bytes"),
          length(col("text")).as("n_chars_m"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              | CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
              | CAST(strlen(text) AS INTEGER) AS n_bytes,
              | CAST(length(text) AS INTEGER) AS n_chars_m
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // q26 — quality scoring: punctuation ratio + stopword ratio, the
    // standard cheap text-quality heuristics.
    QuerySpec("q26_quality_score",
      (s, dir) => {
        val nTok  = Text.tokenCount(col("text"))
        val nStop = Text.stopwordCount(col("text"))
        val nPun  = Text.punctCount(col("text"))
        // Sort the narrow base FIRST: a global orderBy samples its child
        // for range bounds, so putting the heavy tokenization above the
        // Sort keeps it out of the sampling pass (it would run twice
        // otherwise — see NOTES.md).
        Tables.load(s, dir, "documents").select("doc_id", "text")
          .orderBy("doc_id")
          .select(col("doc_id"),
            length(col("text")).as("n_chars_m"),
            nPun.as("n_punct"),
            nStop.as("n_stop"),
            nTok.as("n_tokens"),
            round(nStop.cast("double") / nTok, 4).as("stop_ratio"),
            round(nPun.cast("double") / length(col("text")), 4).as("punct_ratio"))
      },
      Some(s"""SELECT doc_id,
              | CAST(length(text) AS INTEGER) AS n_chars_m,
              | CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS INTEGER) AS n_punct,
              | CAST(len(list_filter($duckTokens, x -> x IN ($stopList))) AS INTEGER) AS n_stop,
              | CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
              | round(CAST(len(list_filter($duckTokens, x -> x IN ($stopList))) AS DOUBLE) / len(string_split_regex(trim(text), '\\s+')), 4) AS stop_ratio,
              | round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // q27 — language identification (marker-word heuristic, deterministic
    // tie-break), with the dataset's label for comparison.
    QuerySpec("q27_lang_id",
      (s, dir) =>
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"),
          Text.langId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, $duckLangId AS lang_pred
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // q67 — language ID by character-TRIGRAM profile (the n-gram
    // heuristic form; q27 is the marker-word form). Score = characters
    // removed by replacing each language's trigrams (non-overlapping
    // left-to-right in both engines), argmax with the q27 tie order.
    // Pure scan-local string work — no shuffle before the sort.
    QuerySpec("q67_lang_ngram",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), lower(col("text")).as("s"))
        def score(grams: Seq[String]) = grams.map(g =>
          length(col("s")) - length(expr(s"replace(s, '$g', '')"))).reduce(_ + _)
        val Seq(en, de, fr, es) = Text.langTrigrams.map { case (_, gs) => score(gs) }
        docs.select(col("doc_id"), col("lang"),
            when(en + de + fr + es === 0, lit("und"))
              .when(en >= greatest(de, fr, es), lit("en"))
              .when(de >= greatest(fr, es), lit("de"))
              .when(fr >= es, lit("fr"))
              .otherwise(lit("es")).as("lang_pred"))
          .orderBy("doc_id")
      },
      Some {
        def sc(gs: Seq[String]) = gs.map(g =>
          s"(length(s) - length(replace(s, '$g', '')))").mkString(" + ")
        val Seq(en, de, fr, es) = Text.langTrigrams.map { case (_, gs) => sc(gs) }
        s"""SELECT doc_id, lang,
           | CASE WHEN $en + $de + $fr + $es = 0 THEN 'und'
           |   WHEN $en >= greatest($de, $fr, $es) THEN 'en'
           |   WHEN $de >= greatest($fr, $es) THEN 'de'
           |   WHEN $fr >= $es THEN 'fr'
           |   ELSE 'es' END AS lang_pred
           |FROM (SELECT doc_id, lang, lower(text) AS s FROM documents)
           |ORDER BY doc_id""".stripMargin
      }),

    // q28 — document fingerprinting: md5 over normalized text.
    QuerySpec("q28_fingerprint",
      (s, dir) =>
        Tables.load(s, dir, "documents").select(col("doc_id"),
          Text.fingerprint(col("text")).as("fp"),
          substring(Text.fingerprint(col("text")), 1, 8).as("fp_short"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             | md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
             | substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 8) AS fp_short
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q29 — MinHash-LSH near-duplicate candidates: shingle → 32-bit hash →
    // LCG-permuted minhash signature → band → bucket-local pairs. All
    // set-oriented: explode + groupBy + equi-shuffle, the 100 TB-scalable
    // LSH shape (candidate pairs only ever meet inside a band bucket; no
    // O(n²) cross join, no self-join recompute).
    QuerySpec("q29_minhash_pairs",
      (s, dir) => minhashCandidates(Tables.load(s, dir, "documents"))
        .orderBy("doc_a", "doc_b"),
      Some(s"""$duckMinhashCtes
              |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin)),

    // q34 — SimHash document fingerprint: 32-bit bitwise-majority over
    // per-token hashes. One shuffle (groupBy doc) over 32 int sums; the
    // bit reconstruction is pure projection. Near-dup docs land at small
    // Hamming distance (paired in q50).
    QuerySpec("q34_simhash",
      (s, dir) => simhashDf(Tables.load(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""$duckSimhashCtes
              |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin)),

    // q50 — simhash near-dup pairing: block on the 4 bytes of the
    // fingerprint (two docs within Hamming≤12 of 32 bits usually share a
    // byte), verify exact Hamming distance with bit_count(xor).
    //
    // Pair generation is a SALTED self-join of the banded table — NOT a
    // broadcast: the banded table is the full corpus ×4 (doc_id + simhash
    // per byte-band), i.e. O(corpus), so broadcasting it would OOM every
    // executor at scale. The bucket-local collect_list+HOF form (q29's
    // shape) is also wrong here: simhash byte-bands are heavily skewed
    // (one byte value can hold >25% of all docs), so a single array row
    // explodes ~1M pairs in one task. The salted join spreads each hot
    // bucket over `salts` reducers (salted side randomly, other side
    // replicated salts×: bounded, distributed shuffle growth instead of
    // unbounded broadcast memory), and the Hamming filter runs before the
    // pair-dedup shuffle. Skew.saltedJoin pins SHUFFLE_HASH so the plan
    // really does shuffle on (band, salt) — see its scaladoc.
    QuerySpec("q50_simhash_pairs",
      (s, dir) => {
        val sim = simhashDf(Tables.load(s, dir, "documents"))
          .persistTracked()
        val bytes = (0 until 4).map(j => struct(lit(j).as("bi"),
          shiftright(col("simhash"), j * 8).bitwiseAND(lit(255L)).as("bv")))
        val bands = sim
          .select(col("doc_id"), col("simhash"), explode(array(bytes: _*)).as("b"))
          .select(col("doc_id"), col("simhash"), col("b.bi"), col("b.bv"))
        graft.ops.Skew.saltedJoin(
            bands.select(col("bi"), col("bv"), col("doc_id").as("doc_a"), col("simhash").as("sa")),
            bands.select(col("bi"), col("bv"), col("doc_id").as("doc_b"), col("simhash").as("sb")),
            Seq("bi", "bv"), salts = 8)
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"), expr("bit_count(sa ^ sb)").as("hamming"))
          .filter(col("hamming") <= 12)
          .distinct()
          // Tiny surviving pair set: persist so the final sort's
          // range-partitioner sampling pass reads the cache instead of
          // re-running the banded join (NOTES: persist-before-orderBy).
          .persistTracked()
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$duckSimhashCtes,
              |bands AS (SELECT doc_id, j AS bi, (simhash >> (j * 8)) & 255 AS bv
              |          FROM sim, generate_series(0, 3) t(j)),
              |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM bands a JOIN bands b
              |  ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
              |SELECT c.doc_a, c.doc_b,
              |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
              |FROM cand c JOIN sim sa ON sa.doc_id = c.doc_a
              |            JOIN sim sb ON sb.doc_id = c.doc_b
              |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 12
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // q35 — n-gram Jaccard verification of LSH candidates: exact
    // similarity on the distinct-shingle sets, but ONLY for pairs the
    // bands surfaced — the verify step of the dedup pipeline (candidate
    // count ≪ n², so the exact set ops stay cheap at scale).
    QuerySpec("q35_ngram_jaccard",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // The candidate set is referenced twice below (id restriction +
        // final join): persist at the explicit branch point so the LSH
        // pipeline runs once (SURVEY §4: cache only at branch points).
        // It is tiny — pairs, not documents.
        val cand = candidatePairs(s, dir)
          .persistTracked()
        // Only candidate docs need their shingle sets materialized — the
        // semi-join keeps the collect_set shuffle proportional to the
        // (small) candidate population, not the corpus.
        val candIds = cand
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        val sets = docs.join(candIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk"))
          .select(col("doc_id"), explode(Text.shinglesFromTokens(col("tk"))).as("sh"))
          .groupBy("doc_id").agg(collect_set(col("sh")).as("shs"))
        cand
          .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
              size(array_union(col("sa"), col("sb"))), 4).as("jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$duckMinhashCtes,
              |sets AS (SELECT doc_id, list(DISTINCT sh) AS shs FROM ex GROUP BY doc_id)
              |SELECT c.doc_a, c.doc_b,
              | round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE) / len(list_distinct(a.shs || b.shs)), 4) AS jaccard
              |FROM cand c JOIN sets a ON a.doc_id = c.doc_a JOIN sets b ON b.doc_id = c.doc_b
              |ORDER BY c.doc_a, c.doc_b""".stripMargin)),

    // q30 — multimodal-column plumbing (SURVEY §0 driver mandate): the
    // corpus has no media column, so each doc's bytes are wrapped in a
    // REAL BMP container (Multimodal.bmpBytes — genuine BITMAPFILEHEADER
    // + BITMAPINFOHEADER layout; fixture dims from stubDims, since a doc
    // must map to the same picture deterministically), and the query
    // decodes width/height by actually PARSING those header bytes
    // (decodeBmpDims: magic check + int32 LE at offsets 18/22). Rows
    // whose payload fails the parse are skipped — the P8 permissive
    // error-row policy. The Spark shape — binary payload, mapPartitions
    // batch processing, typed output schema — is the 100 TB shape: a
    // narrow (no-shuffle) transform.
    QuerySpec("q30_binary_meta",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val pixels = txt.getBytes("UTF-8") // stand-in pixel bytes
          val (w0, h0) = graft.functions.Multimodal.stubDims(pixels.length)
          val media = graft.functions.Multimodal.bmpBytes(w0, h0, pixels)
          // the decode reads ONLY the header bytes, not the fixture vars
          graft.functions.Multimodal.decodeBmpDims(media).map {
            case (width, height) =>
              (id, media.length, width, height, media(0) & 0xff)
          }
        }).toDF("doc_id", "n_bytes", "width", "height", "first_byte")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             | CAST(54 + strlen(text) AS INTEGER) AS n_bytes,
             | CAST(64 + strlen(text) % 576 AS INTEGER) AS width,
             | CAST(64 + (strlen(text) * 7) % 416 AS INTEGER) AS height,
             | 66 AS first_byte
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q44 — document chunking into overlapping token windows (size 50,
    // stride 40) — the standard training-data windowing op. Pure
    // sequence/slice HOFs: a narrow per-row explode, no shuffle until the
    // final sort.
    QuerySpec("q44_chunk_tokens",
      (s, dir) =>
        Tables.load(s, dir, "documents")
          .withColumn("tk", Text.tokens(lower(col("text"))))
          .select(col("doc_id"),
            explode(expr("sequence(0, (size(tk) - 1) DIV 40)")).as("k"),
            col("tk"))
          .select(col("doc_id"), col("k").cast("int").as("chunk_idx"),
            size(expr("slice(tk, k * 40 + 1, 50)")).as("n_tokens"),
            expr("element_at(tk, CAST(k * 40 + 1 AS INT))").as("first_token"))
          .orderBy("doc_id", "chunk_idx"),
      Some(s"""SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
              | CAST(len(w[k*40+1 : k*40+50]) AS INTEGER) AS n_tokens,
              | w[k*40+1] AS first_token
              |FROM (SELECT doc_id, $duckTokens AS w FROM documents),
              |     UNNEST(generate_series(0, CAST(floor((len(w)-1)/40) AS BIGINT))) AS t(k)
              |ORDER BY doc_id, chunk_idx""".stripMargin)),

    // q45 — deterministic train/val/test split assignment: hash the
    // content (not a row number) so the split is stable under reordering,
    // dedup, and re-runs — the reproducible-split op every training
    // pipeline needs. 80/10/10 by md5-derived bucket.
    QuerySpec("q45_split_assign",
      (s, dir) => {
        val bucket = Text.hash32(col("text")) % 100
        val split = when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test")
        Tables.load(s, dir, "documents")
          .select(col("lang"), split.as("split"))
          .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "split")
      },
      Some("""SELECT lang,
             | CASE WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
             |      WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
             |      ELSE 'test' END AS split,
             | count(*) AS n_docs
             |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // q47 — deterministic stratified sampling: the 10 docs with smallest
    // content hash per language. Reproducible on any cluster layout (hash
    // order, not physical order) — the "give me a stable N-per-stratum
    // sample" op. WindowGroupLimit keeps it one shuffle + local top-k.
    QuerySpec("q47_stratified_sample",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(Text.hash32(col("text")).asc, col("doc_id").asc)
        Tables.load(s, dir, "documents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("lang"), col("doc_id"), col("rn"))
          .orderBy("lang", "rn")
      },
      Some("""SELECT lang, doc_id, CAST(rn AS INTEGER) AS rn FROM (
             |  SELECT lang, doc_id, row_number() OVER (
             |    PARTITION BY lang
             |    ORDER BY CAST('0x' || substr(md5(text), 1, 8) AS BIGINT), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 10 ORDER BY lang, rn""".stripMargin)),

    // q48 — content scrubbing/redaction: mask digit runs (the PII-redaction
    // shape: phone/ID scrubbing before training). Pure regexp projection —
    // narrow, codegen'd, no shuffle before the sort. The pattern stays in
    // the RE2∩Java-regex common subset so both engines agree.
    QuerySpec("q48_redact",
      (s, dir) => {
        val redacted = regexp_replace(col("text"), "[0-9]+", "#NUM")
        Tables.load(s, dir, "documents").select(col("doc_id"),
          length(redacted).as("n_chars_redacted"),
          (size(split(redacted, "#NUM", -1)) - 1).as("n_redactions"),
          substring(redacted, 1, 40).as("prefix"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             | CAST(length(regexp_replace(text, '[0-9]+', '#NUM', 'g')) AS INTEGER) AS n_chars_redacted,
             | CAST(len(string_split(regexp_replace(text, '[0-9]+', '#NUM', 'g'), '#NUM')) - 1 AS INTEGER) AS n_redactions,
             | substr(regexp_replace(text, '[0-9]+', '#NUM', 'g'), 1, 40) AS prefix
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q55 — multimodal frame sampling: treat the payload as opaque bytes
    // and emit every other 256-byte block ("frames" of a video/audio
    // stream), with offset + length + a rolling checksum per frame. Same
    // mapPartitions plumbing as q30 — imperative per-partition decode over
    // a binary column, narrow (no shuffle), deterministic STUB in place of
    // a real codec. Oracle recomputes the checksum from character codes
    // (texts are ASCII, so bytes ≡ codepoints).
    QuerySpec("q55_frame_sample",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val payload = txt.getBytes("UTF-8") // stand-in media bytes
          graft.functions.Multimodal.frames(payload).map {
            case (k, off, len, chk) => (id, k, off, len, chk)
          }
        }).toDF("doc_id", "frame_idx", "offset", "frame_len", "checksum")
          .orderBy("doc_id", "frame_idx")
      },
      Some("""SELECT doc_id, CAST(k AS INTEGER) AS frame_idx,
             | CAST(k * 512 AS INTEGER) AS offset,
             | CAST(least(256, strlen(text) - k * 512) AS INTEGER) AS frame_len,
             | CAST(CAST(list_sum(list_transform(generate_series(1, CAST(least(256, strlen(text) - k * 512) AS BIGINT)),
             |   i -> ascii(substr(text, CAST(k * 512 + i AS INTEGER), 1)))) AS BIGINT) % 997 AS INTEGER) AS checksum
             |FROM (SELECT doc_id, text FROM documents),
             |     UNNEST(generate_series(0, CAST(floor((strlen(text) - 1) / 512) AS BIGINT))) AS t(k)
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // q63 — multimodal resize/thumbnail: completes the decode → feature →
    // resize → frame-sample quartet (q30 metadata, q55 frames, q120
    // audio). Source dims come from the same REAL BMP-header parse as
    // q30 (bmpBytes fixture → decodeBmpDims); the resize arithmetic —
    // fit the longer side to 256 preserving aspect, never upscale — runs
    // per-partition over the binary payload. Narrow transform, no
    // shuffle before the sort.
    QuerySpec("q63_resize_stub",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val (w0, h0) = graft.functions.Multimodal.stubDims(
            txt.getBytes("UTF-8").length)
          val media = graft.functions.Multimodal.bmpBytes(w0, h0)
          graft.functions.Multimodal.decodeBmpDims(media).map {
            case (width, height) =>
              val (tw, th) = graft.functions.Multimodal.fitThumb(width, height)
              (id, width, height, tw, th, tw.toLong * th * 3)
          }
        }).toDF("doc_id", "width", "height", "thumb_w", "thumb_h", "thumb_bytes")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, width, height, thumb_w, thumb_h,
             | CAST(thumb_w AS BIGINT) * thumb_h * 3 AS thumb_bytes
             |FROM (
             |  SELECT doc_id, width, height,
             |    CAST(CASE WHEN greatest(width, height) <= 256 THEN width
             |      ELSE width * 256 // greatest(width, height) END AS INTEGER) AS thumb_w,
             |    CAST(CASE WHEN greatest(width, height) <= 256 THEN height
             |      ELSE height * 256 // greatest(width, height) END AS INTEGER) AS thumb_h
             |  FROM (
             |    SELECT doc_id,
             |      CAST(64 + strlen(text) % 576 AS INTEGER) AS width,
             |      CAST(64 + (strlen(text) * 7) % 416 AS INTEGER) AS height
             |    FROM documents))
             |ORDER BY doc_id""".stripMargin)),

    // q120 — audio-column metadata: the WAV half of the multimodal
    // mandate (q30/q63 cover images). Fixture: each doc's bytes become
    // the PCM payload of a REAL RIFF/WAVE container (wavBytes — genuine
    // chunk layout; rate/channels derived deterministically from the
    // doc). Decode: Multimodal.decodeWav WALKS the chunk list (not fixed
    // offsets — real WAVs carry LIST/INFO chunks) to the fmt and data
    // chunks and reports sample rate, channels, bit depth and duration.
    // Failed parses are skipped (P8 policy). Narrow transform — the
    // 100 TB shape for per-file media metadata extraction.
    QuerySpec("q120_wav_meta",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val pcm = txt.getBytes("UTF-8") // stand-in sample bytes
          val rate = if (id % 3 == 0) 16000 else 8000
          val channels = (1 + id % 2).toInt
          val media = graft.functions.Multimodal.wavBytes(
            rate, channels, pcm.length / (channels * 2), pcm)
          graft.functions.Multimodal.decodeWav(media).map {
            case (r, ch, bits, n) =>
              (id, media.length, r, ch, bits, n,
                math.round(n * 1000.0 / r))
          }
        }).toDF("doc_id", "n_bytes", "sample_rate", "channels",
            "bits_per_sample", "n_samples", "duration_ms")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             | CAST(44 + strlen(text) AS INTEGER) AS n_bytes,
             | CAST(CASE WHEN doc_id % 3 = 0 THEN 16000 ELSE 8000 END AS INTEGER) AS sample_rate,
             | CAST(1 + doc_id % 2 AS INTEGER) AS channels,
             | 16 AS bits_per_sample,
             | CAST(strlen(text) // ((1 + doc_id % 2) * 2) AS BIGINT) AS n_samples,
             | CAST(round(strlen(text) // ((1 + doc_id % 2) * 2) * 1000.0
             |   / CASE WHEN doc_id % 3 = 0 THEN 16000 ELSE 8000 END) AS BIGINT) AS duration_ms
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q151 — REAL PNG decode: synthesize a valid 8-bit grayscale PNG per
    // doc (pixels = text bytes tiled over a (1 + n%32) × (1 + id%8)
    // canvas), then decode it the way a reader must — signature check,
    // per-chunk CRC32 verification, IHDR parse, and a genuine zlib
    // INFLATE of the IDAT stream before validating scanline filters and
    // summing pixels. The encoder's stored-block zlib framing keeps
    // every output byte arithmetic (Multimodal.pngBytes), so the oracle
    // derives n_bytes/idat_bytes/px_sum from the text column alone —
    // the decode path (CRC32 + Inflater) is the thing under test.
    // Narrow per-row transform, the 100 TB media-metadata shape (q120).
    QuerySpec("q151_png_decode",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val bytes = txt.getBytes("UTF-8")
          val w = 1 + (bytes.length % 32)
          val h = (1 + id % 8).toInt
          val gray = Array.tabulate(w * h)(i => bytes(i % bytes.length))
          val png = graft.functions.Multimodal.pngBytes(w, h, gray)
          graft.functions.Multimodal.decodePng(png).map {
            case (pw, ph, depth, color, nChunks, idatB, pxSum) =>
              (id, png.length, pw, ph, depth, color, nChunks, idatB, pxSum)
          }
        }).toDF("doc_id", "n_bytes", "width", "height", "bit_depth",
            "color_type", "n_chunks", "idat_bytes", "px_sum")
          .orderBy("doc_id")
      },
      Some("""WITH g AS (SELECT doc_id, text,
             |    1 + strlen(text) % 32 AS w, 1 + doc_id % 8 AS h
             |  FROM documents),
             |px AS (SELECT doc_id, CAST(SUM(ascii(substr(text,
             |      CAST(i % strlen(text) AS INTEGER) + 1, 1))) AS BIGINT) AS px_sum
             |  FROM g, generate_series(0, 255) t(i) WHERE i < w * h
             |  GROUP BY doc_id)
             |SELECT g.doc_id,
             |  CAST(h * (w + 1) + 68 AS INTEGER) AS n_bytes,
             |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             |  8 AS bit_depth, 0 AS color_type, 3 AS n_chunks,
             |  CAST(h * (w + 1) + 11 AS INTEGER) AS idat_bytes,
             |  px.px_sum
             |FROM g JOIN px ON g.doc_id = px.doc_id
             |ORDER BY g.doc_id""".stripMargin)),

    // q148 — interpolated bigram language-model scoring (the perplexity
    // filter a pretraining pipeline runs once the unigram screen of q108
    // is too blunt): p(w2|w1) = 0.75·c(w1,w2)/c(w1) + 0.25·c(w2)/N.
    // Bigram generation is scan-local (one HOF over the token array — no
    // positional self-join); the model lives at the BIGRAM-VOCAB grain
    // (c2 joined to the two unigram marginals, term-keyed shuffle joins,
    // nothing corpus-sized broadcast — the q108/q74 vocab rule), and the
    // one corpus-sized shuffle is the doc-bigrams ⋈ model join on
    // (w1, w2). Per-bigram log-probs round to 6 then sum as DECIMAL so
    // the per-doc reduction is summation-order-free; the final mean is
    // one IEEE division.
    QuerySpec("q148_bigram_lm",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("ts"))
        val uni = tok.select(explode(col("ts")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c1"))
        val total = uni.agg(sum(col("c1")).cast("double").as("total"))
        val big = tok.filter(size(col("ts")) >= 2)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(ts) - 1),
              |  i -> struct(element_at(ts, i) AS w1,
              |              element_at(ts, i + 1) AS w2))""".stripMargin)).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        val lp = c2
          .join(uni.select(col("t").as("w1"), col("c1").as("c1w1")), "w1")
          .join(uni.select(col("t").as("w2"), col("c1").as("c1w2")), "w2")
          .crossJoin(broadcast(total))
          .select(col("w1"), col("w2"),
            round(log(lit(0.75) * col("cb") / col("c1w1") +
              lit(0.25) * col("c1w2") / col("total")), 6)
              .cast("decimal(12,6)").as("lp"))
        big.join(lp, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_big"), sum(col("lp")).as("slp"))
          .select(col("doc_id"), col("n_big"),
            (-col("slp").cast("double") / col("n_big")).as("avg_nll"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, $duckTokens AS w FROM documents),
              |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
              |  FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
              |uni AS (SELECT t, count(*) AS c1
              |  FROM (SELECT unnest(w) AS t FROM tok) GROUP BY t),
              |tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS total FROM uni),
              |c2 AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
              |lp AS (SELECT c2.w1, c2.w2,
              |    CAST(round(ln(0.75e0 * c2.cb / u1.c1
              |      + 0.25e0 * u2.c1 / tot.total), 6) AS DECIMAL(12,6)) AS lp
              |  FROM c2 JOIN uni u1 ON u1.t = c2.w1
              |          JOIN uni u2 ON u2.t = c2.w2, tot)
              |SELECT doc_id, count(*) AS n_big,
              |  -CAST(SUM(lp) AS DOUBLE) / count(*) AS avg_nll
              |FROM bg JOIN lp ON bg.w1 = lp.w1 AND bg.w2 = lp.w2
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // q149 — FUZZY benchmark decontamination: q90 catches exact 8-gram
    // overlap; this is its near-duplicate upgrade (the standard paired
    // check — paraphrased/reformatted benchmark leakage). Both sides run
    // through the ONE shared minhash signature pipeline; the benchmark
    // slice's bands are BENCHMARK-bounded, so the bands join broadcasts
    // the probe side honestly (q90's scale argument) while the training
    // corpus streams through scan → band → hash join. Candidates then
    // verify on full-signature agreement (q75's estimator) and flag at
    // est ≥ 0.5 — no pairwise work outside shared LSH buckets.
    QuerySpec("q149_fuzzy_decontam",
      (s, dir) => {
        val k = Text.minhashParams.size
        val nBands = k / Text.bandSize
        val sig = minhashSig(Tables.load(s, dir, "documents"))
          .persistTracked()
        val bandCols = (0 until nBands).map { b =>
          val lo = b * Text.bandSize
          struct(lit(b).as("band_idx"),
            concat_ws("|", (lo until lo + Text.bandSize).map(i => col(s"m$i")): _*).as("band_val"))
        }
        val bands = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
          .select(col("doc_id"), col("b.band_idx"), col("b.band_val"))
        val cand = bands.filter(col("doc_id") % 7 =!= 0)
          .join(broadcast(bands.filter(col("doc_id") % 7 === 0)
              .select(col("doc_id").as("bench_id"), col("band_idx"), col("band_val"))),
            Seq("band_idx", "band_val"))
          .select(col("doc_id"), col("bench_id")).distinct()
        val sigArr = sig.select(col("doc_id"),
          array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
        cand
          .join(sigArr.select(col("doc_id"), col("sig").as("sa")), "doc_id")
          .join(sigArr.select(col("doc_id").as("bench_id"), col("sig").as("sb")), "bench_id")
          .select(col("doc_id"), col("bench_id"),
            round(size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
              b => b)).cast("double") / k, 4).as("est_jaccard"))
          .filter(col("est_jaccard") >= 0.5)
          .orderBy("doc_id", "bench_id")
      },
      Some {
        val k = Text.minhashParams.size
        val agree = (0 until k)
          .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""$duckMinhashCtes,
           |xc AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id
           |  FROM bands a JOIN bands b
           |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           |  WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0)
           |SELECT xc.doc_id, xc.bench_id,
           |  round(CAST($agree AS DOUBLE) / $k, 4) AS est_jaccard
           |FROM xc JOIN sig sa ON sa.doc_id = xc.doc_id
           |        JOIN sig sb ON sb.doc_id = xc.bench_id
           |WHERE round(CAST($agree AS DOUBLE) / $k, 4) >= 0.5
           |ORDER BY xc.doc_id, xc.bench_id""".stripMargin
      }),

    // q150 — curriculum phase assignment: order the corpus easy→hard
    // (difficulty proxy = integer mean word length, deterministic BIGINT
    // division) and split it into 4 phases of EQUAL TOKEN BUDGET, not
    // equal doc count — the schedule a curriculum-ordered pretraining
    // run consumes. The global cumulative token count comes from the
    // distributed PrefixSum (per-range window + range offsets — NO
    // single-reducer global window, the q113/q125 rule); the phase is then pure integer arithmetic against the 1-row
    // total. All-integer → exact on both engines.
    QuerySpec("q150_curriculum",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            size(Text.tokens(lower(col("text")))).cast("long").as("n_tok"))
          .withColumn("diff", expr("n_chars DIV n_tok"))
        val cum = graft.ops.PrefixSum.cumsum(
          base, Seq("diff", "doc_id"), "n_tok", "cum")
        val total = base.agg(sum(col("n_tok")).as("total"))
        cum.crossJoin(broadcast(total))
          .select(col("doc_id"), col("diff"), col("n_tok"), col("cum"),
            least(lit(3L),
              expr("((cum - n_tok) * 4) DIV total")).as("phase"))
          .orderBy("doc_id")
      },
      Some(s"""WITH b AS (SELECT doc_id, n_chars,
              |    CAST(len($duckTokens) AS BIGINT) AS n_tok,
              |    n_chars // CAST(len($duckTokens) AS BIGINT) AS diff
              |  FROM documents),
              |c AS (SELECT doc_id, diff, n_tok,
              |    CAST(SUM(n_tok) OVER (ORDER BY diff, doc_id
              |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM b),
              |t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total FROM b)
              |SELECT doc_id, diff, n_tok, cum,
              |  least(CAST(3 AS BIGINT), ((cum - n_tok) * 4) // total) AS phase
              |FROM c, t ORDER BY doc_id""".stripMargin)),

    // q153 — per-source distribution drift: KL(p_source ‖ p_corpus) over
    // the rank-bounded top-20 vocabulary — the data-quality gauge that
    // flags a source whose token mix diverges from the corpus (scraper
    // drift, template spam). The vocab is K-row → broadcast is honest
    // (q129's rule); per-source restricted counts are one (source, term)
    // aggregate, and the KL terms round to 6 then sum as DECIMAL at the
    // source grain (order-free). q(t) > 0 always (top-20 global terms);
    // p(t) = 0 terms contribute 0 by absence.
    QuerySpec("q153_source_kl",
      (s, dir) => {
        // tok feeds BOTH the global top-20 pass and the per-source
        // restricted count — without the persist the tokenize+explode
        // scan (the dominant cost) runs twice (VERDICT r7 nit #1).
        val tok = Tables.load(s, dir, "documents")
          .select(col("source"), explode(Text.tokens(lower(col("text")))).as("t"))
          .persistTracked()
        val top = tok.groupBy("t").agg(count(lit(1)).as("cg"))
          .orderBy(desc("cg"), col("t")).limit(20)
          .persistTracked()
        val gtot = top.agg(sum(col("cg")).as("gt"))
        // st is (source, top-term) grain — tiny; persisting it keeps the
        // stot branch from re-scanning the cached token table
        val st = tok.join(broadcast(top.select("t")), "t")
          .groupBy("source", "t").agg(count(lit(1)).as("cs"))
          .persistTracked()
        val stot = st.groupBy("source").agg(sum(col("cs")).as("ts"))
        st.join(stot, "source")
          .join(broadcast(top), "t").crossJoin(broadcast(gtot))
          .select(col("source"),
            round((col("cs") / col("ts")) *
              log((col("cs") / col("ts")) / (col("cg") / col("gt"))), 6)
              .cast("decimal(12,6)").as("term"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_terms"),
            sum(col("term")).cast("double").as("kl"))
          .orderBy("source")
      },
      Some(s"""WITH tok AS (SELECT source, unnest($duckTokens) AS t FROM documents),
              |top AS (SELECT t, count(*) AS cg FROM tok GROUP BY t
              |  ORDER BY cg DESC, t LIMIT 20),
              |gtot AS (SELECT CAST(SUM(cg) AS BIGINT) AS gt FROM top),
              |st AS (SELECT source, tok.t, count(*) AS cs FROM tok
              |  JOIN top ON tok.t = top.t GROUP BY source, tok.t),
              |stot AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ts
              |  FROM st GROUP BY source),
              |terms AS (SELECT st.source,
              |    CAST(round((st.cs / stot.ts) *
              |      ln((st.cs / stot.ts) / (top.cg / gtot.gt)), 6)
              |      AS DECIMAL(12,6)) AS term
              |  FROM st JOIN stot ON st.source = stot.source
              |          JOIN top ON st.t = top.t, gtot)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
              |  CAST(SUM(term) AS DOUBLE) AS kl
              |FROM terms GROUP BY source ORDER BY source""".stripMargin)),

    // q64 — rolling-hash document fingerprinting (winnowing): Karp-Rabin
    // 8-gram Horner hashes (base 257 mod 1000003) over the normalized
    // text, then the MOSS/winnowing selection — min hash of each 4-gram
    // window, distinct — as the fingerprint set. The literal "rolling
    // hash" half of the fingerprinting mandate (q28 is the digest half).
    //
    // Implemented as native per-partition Scala, the justified
    // mapPartitions case: the HOF form is ~12M interpreted lambda
    // invocations at sf0.1 (15.8s); the native loop is the same math at
    // machine speed (<0.3s). Outputs are order-independent reductions so
    // DuckDB's unordered list_distinct cannot break parity; texts are
    // ASCII so charAt ≡ ascii(). Narrow, no shuffle before the sort.
    QuerySpec("q64_winnow_fingerprint",
      (s, dir) => {
        import s.implicits._
        val M = 1000003L; val B = 257L; val K = 8; val W = 4
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.normalize(col("text")).as("s"))
          .as[(Long, String)]
        ds.mapPartitions(_.map { case (id, str) =>
          val nGrams = math.max(str.length - K + 1, 0)
          val hs = new Array[Long](nGrams)
          var i = 0
          while (i < nGrams) {
            var acc = 0L; var j = 0
            while (j < K) { acc = (acc * B + str.charAt(i + j)) % M; j += 1 }
            hs(i) = acc; i += 1
          }
          val fps = scala.collection.mutable.SortedSet.empty[Long]
          var p = 0
          while (p + W <= nGrams) {
            var m = Long.MaxValue; var q = p
            while (q < p + W) { if (hs(q) < m) m = hs(q); q += 1 }
            fps += m; p += 1
          }
          val fpMin = if (fps.nonEmpty) fps.head else -1L
          val fpSum = if (fps.nonEmpty) fps.foldLeft(0L)((a, x) => (a + x) % M) else -1L
          (id, nGrams, fps.size, fpMin, fpSum)
        }).toDF("doc_id", "n_grams", "n_fp", "fp_min", "fp_sum")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS s FROM documents),
             |h AS (SELECT doc_id,
             |  CASE WHEN length(s) >= 8 THEN
             |    list_transform(generate_series(1, length(s) - 7),
             |      i -> list_reduce(list_transform(generate_series(0, 7),
             |             j -> CAST(ascii(substr(s, CAST(i + j AS INTEGER), 1)) AS BIGINT)),
             |           (acc, x) -> (acc * 257 + x) % 1000003))
             |  ELSE [] END AS hs FROM d),
             |w AS (SELECT doc_id, hs,
             |  CASE WHEN len(hs) >= 4 THEN
             |    list_distinct(list_transform(generate_series(1, len(hs) - 3),
             |      i -> list_aggregate(hs[i:i+3], 'min')))
             |  ELSE [] END AS fps FROM h)
             |SELECT doc_id, CAST(len(hs) AS INTEGER) AS n_grams,
             |  CAST(len(fps) AS INTEGER) AS n_fp,
             |  CAST(CASE WHEN len(fps) > 0 THEN list_aggregate(fps, 'min') ELSE -1 END AS BIGINT) AS fp_min,
             |  CAST(CASE WHEN len(fps) > 0 THEN list_sum(fps) % 1000003 ELSE -1 END AS BIGINT) AS fp_sum
             |FROM w ORDER BY doc_id""".stripMargin)),

    // q57 — array-function catalogue over tokenized documents (engine
    // surface: the array/map scalar breadth SURVEY §2.8 lists as extension
    // only). distinct / slice / transform+max / filter / sort — all
    // higher-order built-ins, all inside whole-stage codegen, no shuffle
    // except the final order. Both engines tokenize identically
    // (string_split_regex ≡ split after trim, NOTES rule 9) and string
    // sort order is binary in both.
    QuerySpec("q57_array_funcs",
      (s, dir) => {
        // sort the narrow base first: keeps the array work out of the
        // range-partitioner sampling pass (NOTES perf rule), and bind the
        // tokenization to a real column before fanning out — inlining it
        // into the five array exprs re-tokenizes per reference (HOF
        // lambdas defeat subexpression elimination, NOTES perf rule)
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
          .orderBy("doc_id")
          .select(col("doc_id"), Text.tokens(col("text")).as("words"))
          .select(col("doc_id"),
            size(array_distinct(col("words"))).as("n_distinct"),
            array_join(slice(col("words"), 1, 5), "-").as("head5"),
            array_max(transform(col("words"), w => length(w))).as("longest"),
            size(filter(col("words"), w => length(w) > 6)).as("n_long"),
            array_join(slice(sort_array(col("words")), 1, 3), " ").as("first3_sorted"))
      },
      Some("""SELECT doc_id,
             | CAST(len(list_distinct(words)) AS INTEGER) AS n_distinct,
             | array_to_string(words[1:5], '-') AS head5,
             | CAST(list_max(list_transform(words, w -> length(w))) AS INTEGER) AS longest,
             | CAST(len(list_filter(words, w -> length(w) > 6)) AS INTEGER) AS n_long,
             | array_to_string(list_sort(words)[1:3], ' ') AS first3_sorted
             |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // q62 — BPE-style regex tokenization (driver mandate: token counting =
    // whitespace + a BPE-ish regex; q25 is the whitespace half). The
    // GPT-family pre-tokenizer splits words / digit runs / punctuation
    // before merges — this is that split, with per-class counts. Pattern
    // kept in the RE2∩Java common subset (NOTES rule 9); all per-class
    // filters run on the bound token array, scan-local, no shuffle except
    // the final sort.
    QuerySpec("q62_bpe_tokens",
      (s, dir) => {
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
          .orderBy("doc_id")
          .select(col("doc_id"),
            expr("""regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)""").as("tk"))
          .select(col("doc_id"),
            size(col("tk")).as("n_bpe"),
            size(filter(col("tk"), t => t.rlike("^[A-Za-z]+$"))).as("n_word"),
            size(filter(col("tk"), t => t.rlike("^[0-9]+$"))).as("n_num"),
            size(filter(col("tk"), t => !t.rlike("^[A-Za-z0-9]"))).as("n_punct"),
            array_join(slice(col("tk"), 1, 8), "|").as("head8"))
      },
      Some("""SELECT doc_id,
             | CAST(len(tk) AS INTEGER) AS n_bpe,
             | CAST(len(list_filter(tk, t -> regexp_full_match(t, '[A-Za-z]+'))) AS INTEGER) AS n_word,
             | CAST(len(list_filter(tk, t -> regexp_full_match(t, '[0-9]+'))) AS INTEGER) AS n_num,
             | CAST(len(list_filter(tk, t -> NOT regexp_matches(t, '^[A-Za-z0-9]'))) AS INTEGER) AS n_punct,
             | array_to_string(tk[1:8], '|') AS head8
             |FROM (SELECT doc_id, regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS tk FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // q68 — MAP-typed scalar catalogue (SURVEY §2.8 lists map scalars as
    // extension surface): per-document word-count MAP built the scalable
    // way — explode + groupBy(doc, word) + map_from_entries(collect_list)
    // — then map_keys / map_values / map_filter / element_at / aggregate
    // over it. Every projected output is key-order-independent (sizes,
    // lookups, sorted joins), so collect_list's nondeterministic order
    // cannot break parity; DuckDB mirrors the map with per-group
    // conditional aggregation (it has no comparable MAP algebra).
    QuerySpec("q68_map_funcs",
      (s, dir) => {
        val wc = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        wc.groupBy("doc_id")
          .agg(map_from_entries(collect_list(struct(col("w"), col("c")))).as("m"))
          .select(col("doc_id"),
            size(col("m")).as("n_keys"),
            coalesce(element_at(col("m"), "the"), lit(0L)).as("n_the"),
            size(expr("map_filter(m, (k, v) -> v >= 3)")).as("n_freq3"),
            array_join(slice(array_sort(map_keys(col("m"))), 1, 5), ",").as("keys5"),
            expr("aggregate(map_values(m), 0L, (acc, x) -> acc + x)").as("sum_counts"))
          .orderBy("doc_id")
      },
      Some(s"""WITH wc AS (
              |  SELECT doc_id, w, count(*) AS c
              |  FROM (SELECT doc_id, unnest($duckTokens) AS w FROM documents)
              |  GROUP BY doc_id, w)
              |SELECT doc_id,
              |  CAST(count(*) AS INTEGER) AS n_keys,
              |  coalesce(max(CASE WHEN w = 'the' THEN c END), 0) AS n_the,
              |  CAST(count(*) FILTER (WHERE c >= 3) AS INTEGER) AS n_freq3,
              |  array_to_string(list_sort(list(w))[1:5], ',') AS keys5,
              |  CAST(sum(c) AS BIGINT) AS sum_counts
              |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // q71 — fuzzy (edit-distance) near-dup candidates: block on
    // (lang, length-bucket), pair bucket-locally, then Levenshtein over
    // 30-char normalized prefixes as the cheap verify. The
    // string-similarity member of the dedup family (exact=q24,
    // minhash=q29, simhash=q50, embedding=q41; q72 is the linear-time
    // sorted-neighborhood alternative for blocks that grow with the
    // corpus).
    //
    // Pair generation is a SALTED self-join (q50's shape), NOT the
    // collect_list+HOF explosion: (lang, length-bucket) blocks are
    // heavily skewed — one (en, lb) bucket holds ~10% of the corpus, so
    // the HOF form materializes that bucket's ~n²/2 pair array in a
    // single task (plus a slice() copy per element; NOTES.md). The salted
    // join spreads each hot block over `salts` reducers and runs the
    // Levenshtein filter distributed, before the pair rows ever
    // concentrate. (sf0.1: 12.3s HOF → ~3s salted.)
    //
    // Levenshtein carries the threshold (banded O(k·n) DP with early
    // exit, -1 past the bound, exact at or under it — so `dist` is
    // unchanged for every surviving row) instead of the full O(n²) DP:
    // 588k candidate evaluations at sf0.1, 2× cheaper banded. The filter
    // deliberately stays in the join residual — evaluated there, pairs
    // never materialize as rows. The tiny surviving set is persisted so
    // the global sort's range-sampling pass reads it back instead of
    // re-running the join+Levenshtein lineage (orderBy re-executes its
    // child otherwise; NOTES.md).
    QuerySpec("q71_edit_distance",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents")
          .select(col("lang"), expr("CAST(length(text) AS BIGINT) DIV 100").as("lb"),
            col("doc_id"), substring(Text.normalize(col("text")), 1, 30).as("pfx"))
        graft.ops.Skew.saltedJoin(
            base.select(col("lang"), col("lb"), col("doc_id").as("doc_a"), col("pfx").as("pa")),
            base.select(col("lang"), col("lb"), col("doc_id").as("doc_b"), col("pfx").as("pb")),
            Seq("lang", "lb"), salts = 8)
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            levenshtein(col("pa"), col("pb"), 10).as("dist"))
          .filter(col("dist") >= 0)
          .persistTracked()
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH b AS (SELECT doc_id, lang, length(text) // 100 AS lb,
             |    substr(lower(regexp_replace(text, '\s+', ' ', 'g')), 1, 30) AS pfx
             |  FROM documents)
             |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
             |  CAST(levenshtein(a.pfx, b2.pfx) AS INTEGER) AS dist
             |FROM b a JOIN b b2
             |  ON a.lang = b2.lang AND a.lb = b2.lb AND a.doc_id < b2.doc_id
             |WHERE levenshtein(a.pfx, b2.pfx) <= 10
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // q72 — sorted-neighborhood near-dup candidates (SNM): within each
    // (lang, length-bucket) block, sort by normalized prefix and pair
    // every doc with its next `w` neighbors only. The LINEAR-pair-space
    // member of the dedup family: q71's blocked self-join evaluates
    // O(Σ n_k²) pairs, which stops scaling once blocks grow with the
    // corpus; SNM evaluates O(n·w) — near-dup prefixes sort adjacently,
    // so the window catches them without enumerating the block. Pairing
    // is lead() over the block sort; each position pair is emitted once,
    // (least, greatest) normalizes orientation. Scale note: the window
    // sorts each block in one task — for blocks beyond one task, split
    // them into sub-blocks with a w-row overlap (boundary pairs are
    // preserved by the replicated overlap) before the window.
    QuerySpec("q72_sorted_neighborhood",
      (s, dir) => snmPairs(Tables.load(s, dir, "documents"))
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH $duckSnmCtes
             |SELECT doc_a, doc_b, dist FROM snm ORDER BY doc_a, doc_b""".stripMargin)),

    // q76 — dedup clusters: connected components over the minhash
    // candidate pairs (q29's edges), the step that turns pairwise
    // near-dup hits into KEEP/DROP decisions (cluster id = min doc_id in
    // the component; survivors = one doc per cluster). Pregel-style
    // min-label propagation: each round is one keyed shuffle join
    // (neighbor labels) + one min-aggregate, repeated to fixpoint —
    // O(component diameter) rounds, every round fully distributed. The
    // driver loop only counts label changes (a scalar per round); labels
    // persist per round and the previous round unpersists, keeping the
    // lineage one round deep (iterative plans otherwise grow without
    // bound). At 100 TB the round count compresses with the
    // large-star/small-star variant; the per-round plan is unchanged.
    QuerySpec("q76_dedup_clusters",
      (s, dir) => {
        // The LSH pipeline materializes at full parallelism + AQE and
        // the iterative rounds run on a tuned 4-partition clone —
        // both phases live inside [[minhashLabels]]'s once-per-corpus
        // build; every invocation serves the persisted labels (the
        // nightly-dedup-index production shape).
        minhashLabels(s, dir)
          .select(col("node").as("doc_id"), col("cid").as("cluster_id"))
          .orderBy("doc_id")
      },
      Some(s"""${duckMinhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
              |          UNION SELECT doc_b, doc_a FROM cand),
              |reach AS (SELECT a AS src, b AS dst FROM edges
              |          UNION
              |          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
              |SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
              |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)),

    // q124 — keep-BEST dedup policy: q76 finds the clusters; this query
    // chooses the survivor a production pipeline actually keeps — the
    // LONGEST member (max token count, tie → lower doc_id), not the
    // lowest id. The argmax is a struct-MAX aggregate over (n_tokens,
    // -doc_id) — one exchange at cluster grain, the same shape as
    // nearestCentroid's assignment (no per-cluster sort). Token counts
    // are scan-local; clustering reuses the LSH candidates + min-label
    // propagation on a tuned session clone, exactly q76's scale
    // machinery.
    QuerySpec("q124_dedup_keep_longest",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // q76's persisted cluster labels, reused verbatim — the
        // survivor policy runs on the clusters the dedup pass found
        val labels = minhashLabels(s, dir)
        val withLen = labels
          .join(docs.select(col("doc_id").as("node"),
            Text.tokenCount(col("text")).as("n_tokens")), "node")
        val best = withLen.groupBy("cid")
          .agg(max(struct(col("n_tokens"), (-col("node")).as("nid"))).as("m"))
          .select(col("cid"), (-col("m.nid")).as("keep_id"))
        withLen.join(best, "cid")
          .select(col("node").as("doc_id"), col("cid").as("cluster_id"),
            col("n_tokens"), (col("node") === col("keep_id")).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""${duckMinhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
              |          UNION SELECT doc_b, doc_a FROM cand),
              |reach AS (SELECT a AS src, b AS dst FROM edges
              |          UNION
              |          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
              |labels AS (SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
              |  FROM reach GROUP BY src),
              |lens AS (SELECT doc_id,
              |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens
              |  FROM documents),
              |j AS (SELECT l.doc_id, l.cluster_id, n.n_tokens
              |  FROM labels l JOIN lens n USING (doc_id)),
              |best AS (SELECT cluster_id, doc_id AS keep_id FROM (
              |  SELECT cluster_id, doc_id, row_number() OVER (PARTITION BY cluster_id
              |    ORDER BY n_tokens DESC, doc_id) AS rn FROM j) WHERE rn = 1)
              |SELECT j.doc_id, j.cluster_id, j.n_tokens, j.doc_id = b.keep_id AS keep
              |FROM j JOIN best b ON j.cluster_id = b.cluster_id
              |ORDER BY j.doc_id""".stripMargin)),

    // q78 — heavy hitters via a count-min sketch, the third sketch family
    // member (HLL=q60, approx-percentile=q66) — and unlike those two it
    // is HASH-compared: the CMS is fully deterministic given the shared
    // portable hash (md5-int32 + the first 4 minhash LCG rows, width
    // 512), so DuckDB rebuilds the identical sketch from the same
    // generated constants. The sketch itself is one groupBy over (row,
    // cell): d·width = 2048 cells TOTAL, a size that is INDEPENDENT of
    // corpus scale — which is why probing joins against broadcast(cms)
    // honestly at 100 TB (the one join in this repo whose broadcast side
    // cannot grow). Estimate = min over rows; CMS guarantees est ≥ true
    // count (collisions only inflate), asserted per-token in a spec.
    QuerySpec("q78_cms_heavy_hitters",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(explode(Text.tokens(lower(col("text")))).as("w"))
        val cellsOf = (h: org.apache.spark.sql.Column) => array(cmsRows.map { case ((a, b), j) =>
          struct(lit(j).as("j"), (((h * a + b) % Text.minhashMod) % cmsWidth).as("cell"))
        }: _*)
        val cms = toks
          .select(explode(cellsOf(Text.hash32(col("w")))).as("jc"))
          .groupBy(col("jc.j").as("j"), col("jc.cell").as("cell"))
          .agg(count(lit(1)).as("cnt"))
        val cand = toks.groupBy("w").agg(count(lit(1)).as("n_true"))
        val probes = cand
          .select(col("w"), col("n_true"), cellsOf(Text.hash32(col("w"))).as("jcs"))
          .select(col("w"), col("n_true"), explode(col("jcs")).as("jc"))
          .select(col("w"), col("n_true"), col("jc.j").as("j"), col("jc.cell").as("cell"))
        probes.join(broadcast(cms), Seq("j", "cell"))
          .groupBy("w", "n_true").agg(min("cnt").as("est"))
          .orderBy(col("est").desc, col("w")).limit(20)
          .select(col("w"), col("est"), col("n_true"))
      },
      Some {
        val cellCase = "CASE j " + cmsRows.map { case ((a, b), j) =>
          s"WHEN $j THEN ((h * $a + $b) % ${Text.minhashMod}) % $cmsWidth"
        }.mkString(" ") + " END"
        s"""WITH tok AS (SELECT unnest($duckTokens) AS w FROM documents),
           |th AS (SELECT w, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h FROM tok),
           |cells AS (SELECT j, $cellCase AS cell, count(*) AS cnt
           |  FROM th, generate_series(0, ${cmsRows.size - 1}) t(j) GROUP BY 1, 2),
           |cand AS (SELECT w, count(*) AS n_true,
           |    CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h
           |  FROM tok GROUP BY w),
           |probes AS (SELECT w, n_true, j, $cellCase AS cell
           |  FROM cand, generate_series(0, ${cmsRows.size - 1}) t(j)),
           |est AS (SELECT w, n_true, min(cnt) AS est
           |  FROM probes JOIN cells USING (j, cell) GROUP BY 1, 2)
           |SELECT w, est, n_true FROM est ORDER BY est DESC, w LIMIT 20""".stripMargin
      }),

    // q88 — dense vocabulary ids: assign consecutive 1-based integer ids
    // to distinct tokens in lexicographic order — the tokenizer-building
    // step of a training pipeline. The classic trap is
    // `row_number() OVER (ORDER BY token)`: an unpartitioned window that
    // funnels the whole vocabulary through ONE task. `ops.PrefixSum`
    // over a constant 1 gives the identical ranks from a range-partition
    // + per-partition window + O(partitions) offset merge — dense id
    // assignment at any vocabulary size (the Spark-first replacement for
    // RDD zipWithIndex, which breaks the declarative plan). String keys
    // order by binary UTF-8 in both engines.
    QuerySpec("q88_vocab_ids",
      (s, dir) => {
        val vocab = Tables.load(s, dir, "documents")
          .select(explode(Text.tokens(lower(col("text")))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("tf"))
          .withColumn("__one", lit(1L))
        graft.ops.PrefixSum.cumsum(vocab, "token", "__one", "vocab_id")
          .select(col("token"), col("tf"), col("vocab_id"))
          .orderBy("token")
      },
      Some(s"""WITH tok AS (SELECT unnest($duckTokens) AS token FROM documents),
              |g AS (SELECT token, count(*) AS tf FROM tok GROUP BY token)
              |SELECT token, tf,
              |  row_number() OVER (ORDER BY token) AS vocab_id
              |FROM g ORDER BY token""".stripMargin)),

    // q74 — TF-IDF term ranking: per-doc term frequency (one explode +
    // groupBy shuffle), corpus document frequency (second groupBy over the
    // already-distinct doc-term pairs), score = tf·ln(N/df), top-3 terms
    // per doc. The df join is keyed on the term — a plain shuffle join
    // that scales with vocabulary (NOT broadcast: vocab at 100 TB is
    // corpus-proportional); N is a 1-row aggregate, broadcast for free.
    QuerySpec("q74_tfidf",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("w").asc)
        tf.join(df, "w").crossJoin(broadcast(n))
          .select(col("doc_id"), col("w"),
            (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("score"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select(col("doc_id"), col("rn"), col("w").as("term"),
            round(col("score"), 6).as("tfidf"))
          .orderBy("doc_id", "rn")
      },
      Some(s"""WITH tf AS (
              |  SELECT doc_id, w, count(*) AS tf
              |  FROM (SELECT doc_id, unnest($duckTokens) AS w FROM documents)
              |  GROUP BY doc_id, w),
              |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
              |n AS (SELECT count(*) AS n_docs FROM documents),
              |scored AS (
              |  SELECT doc_id, tf.w, tf * ln(CAST(n_docs AS DOUBLE) / df) AS score
              |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
              |ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
              |    ORDER BY score DESC, w ASC) AS INTEGER) AS rn FROM scored)
              |SELECT doc_id, rn, w AS term, round(score, 6) AS tfidf
              |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    // q75 — minhash-signature Jaccard ESTIMATE for LSH candidates: the
    // sketch-only similarity (fraction of agreeing signature components),
    // against which q35's exact verify is the ground truth. The signature
    // table is persisted at its branch point (bands + two pair joins), so
    // the shingle pipeline runs once; estimates are pure zip_with over
    // the k=8 component arrays — no per-shingle work after the sketch.
    QuerySpec("q75_minhash_estimate",
      (s, dir) => {
        val k = Text.minhashParams.size
        val sig = minhashSig(Tables.load(s, dir, "documents"))
          .persistTracked()
        val sigArr = sig.select(col("doc_id"),
          array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
        candidatesFromSig(sig)
          .join(sigArr.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
          .join(sigArr.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            round(size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
              b => b)).cast("double") / k, 4).as("est_jaccard"))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val k = Text.minhashParams.size
        val agree = (0 until k)
          .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""$duckMinhashCtes
           |SELECT c.doc_a, c.doc_b,
           |  round(CAST($agree AS DOUBLE) / $k, 4) AS est_jaccard
           |FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
           |            JOIN sig sb ON sb.doc_id = c.doc_b
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // q89 — multi-signal dedup clustering: union the candidate pairs from
    // TWO independent near-dup signals (minhash-LSH shingle overlap +
    // sorted-neighborhood prefix edit distance — real pipelines OR their
    // signals, since each detector has blind spots), then label clusters
    // with the large-star/small-star connected-components variant:
    // O(log n) rounds regardless of component diameter, vs label
    // propagation's O(diameter) in q76 — the 100 TB path when transitive
    // near-dup drift chains components. `keep` marks the cluster survivor
    // (min doc_id). Same per-phase retuning as q76: the corpus-scale
    // candidate generation materializes at full parallelism, the
    // candidate-sized iterative phase drops to 4 partitions with AQE off.
    QuerySpec("q89_multi_signal_clusters",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val docs = Tables.load(s, dir, "documents")
        val edges = candidatePairs(s, dir)
          .union(snmPairs(docs).select(col("doc_a"), col("doc_b")))
          .distinct()
          .persistTracked()
        val nEdges = edges.count()
        val e2 = edges.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        // The q334 lesson applied (optimization r14): the candidate edge
        // set is near-dup-density-bounded, NOT corpus-bounded, so it is
        // size-GUARDED, not assumed small — the count above (already
        // materializing the persist) gates a driver union-find; above
        // the bound the distributed O(log n) loop runs as before.
        // Labels are identical by the driverComponents contract
        // (cid = min node id per component; ScalaCheck-pinned).
        // Measured at sf0.1: the alternatingStar path cost 3 rounds ×
        // ~3 driver-scheduled jobs on a ~200-edge graph — pure
        // scheduling floor, same class as q334's 22 propagation rounds.
        val labels =
          (if (nEdges <= (1L << 20))
            graft.ops.ConnectedComponents.driverComponents(
              e2.select(col("src")).limit(0), e2)
          else None).getOrElse {
            // Same non-mutating phase switch as q76: iterative rounds
            // on a tuned session clone, shared session conf untouched.
            val ns = graft.core.Tuned.session(s,
              "spark.sql.shuffle.partitions" -> "4",
              "spark.sql.adaptive.enabled" -> "false")
            graft.ops.ConnectedComponents.alternatingStar(
              graft.core.Tuned.rehome(e2, ns), assumeDistinct = true)
          }
        labels
          .select(col("node").as("doc_id"), col("cid").as("cluster_id"),
            (col("node") === col("cid")).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""${duckMinhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |$duckSnmCtes,
              |allcand AS (SELECT doc_a, doc_b FROM cand
              |            UNION SELECT doc_a, doc_b FROM snm),
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM allcand
              |          UNION SELECT doc_b, doc_a FROM allcand),
              |reach AS (SELECT a AS src, b AS dst FROM edges
              |          UNION
              |          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
              |SELECT src AS doc_id, CAST(least(src, min(dst)) AS BIGINT) AS cluster_id,
              |  src = least(src, min(dst)) AS keep
              |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin)),

    // q90 — benchmark decontamination: flag training documents that share
    // any long n-gram (8-gram shingle) with an eval/benchmark set — the
    // standard pre-training contamination check. The eval set here is the
    // doc_id % 7 == 0 slice (standing in for an external benchmark
    // corpus). Scale shape: the probe side is benchmark-sized — BOUNDED
    // by the eval corpus, independent of training-corpus scale — so
    // broadcast is honest at 100 TB (unlike corpus-proportional tables);
    // the training side streams through one scan + one hash join, and
    // the eval filter is pushed into its own scan (each branch scans
    // only its slice).
    QuerySpec("q90_decontamination",
      (s, dir) => {
        val sh = Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk"))
          .select(col("doc_id"),
            explode(Text.shinglesFromTokens(col("tk"), 8)).as("sh"))
        val probes = sh.filter(col("doc_id") % 7 === 0)
          .select("sh").distinct()
        sh.filter(col("doc_id") % 7 =!= 0)
          .join(broadcast(probes), "sh")
          .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_hits"))
          .orderBy("doc_id")
      },
      Some {
        val cat8 = (0 until 8).map(j => s"w[i+$j]").mkString(" || ' ' || ")
        s"""WITH toks AS (SELECT doc_id, $duckTokens AS w FROM documents),
           |sh AS (SELECT doc_id, $cat8 AS sh
           |       FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)),
           |probes AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 7 = 0)
           |SELECT doc_id, count(DISTINCT sh.sh) AS n_hits
           |FROM sh JOIN probes USING (sh)
           |WHERE doc_id % 7 <> 0
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // q91 — duplicated text spans via content-defined chunking (CDC): cut
    // every document at content-determined token boundaries (token hash
    // % 13 == 0, expected ~13-token chunks), hash each chunk, and report
    // chunks that occur more than once across the corpus — exact
    // substring-level dedup, the rsync/dataset-dedup shape that catches
    // shared passages exact-doc dedup (q24) misses. Content-defined
    // boundaries make chunking SHIFT-INVARIANT: an insertion early in a
    // document changes only the chunk it lands in, so shared suffixes
    // still hash identically — a fixed-width splitter would misalign
    // every later chunk. Scale shape: all chunking is scan-local HOF work
    // (boundary positions partition the token array, so the per-chunk
    // slices total O(tokens)); the only shuffle is the final
    // groupBy(chunk_hash), which scales with corpus size exactly like
    // exact dedup. The portable md5-based hash32 keeps both engines'
    // boundaries bit-identical.
    QuerySpec("q91_cdc_chunks",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        // three separate projections so the token array and boundary
        // positions are bound ONCE each (multiply-referenced non-cheap
        // exprs defeat CollapseProject, so these stay distinct operators)
        val toks = docs.select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk"))
        val withB = toks.select(col("doc_id"), col("tk"),
          Text.cdcBoundaries(col("tk"), 13).as("bpos"))
        val chunks = withB
          .select(col("doc_id"),
            explode(Text.cdcChunks(col("tk"), col("bpos"))).as("c"))
          .filter(col("c.e") >= col("c.s") && col("c.chunk") =!= "")
        chunks
          .select(col("doc_id"), md5(col("c.chunk")).as("chunk_hash"),
            (col("c.e") - col("c.s") + 1).cast("int").as("n_toks"))
          .groupBy("chunk_hash")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"), min(col("n_toks")).as("n_toks"))
          .filter(col("n_occ") > 1)
          .orderBy("chunk_hash")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $duckTokens AS w FROM documents),
              |bp AS (SELECT doc_id, w,
              |  list_filter(generate_series(1, len(w)),
              |    i -> (CAST('0x'||substr(md5(w[i]),1,8) AS BIGINT)) % 13 = 0) AS bpos
              |  FROM toks),
              |se AS (SELECT doc_id, w,
              |  list_prepend(1, list_transform(bpos, p -> p + 1)) AS starts,
              |  list_append(bpos, len(w)) AS ends FROM bp),
              |ch AS (SELECT doc_id, array_to_string(w[se2[1]:se2[2]], ' ') AS chunk,
              |    CAST(se2[2] - se2[1] + 1 AS INTEGER) AS n_toks
              |  FROM se, UNNEST(list_zip(starts, ends)) AS t(se2)
              |  WHERE se2[2] >= se2[1]),
              |h AS (SELECT doc_id, md5(chunk) AS chunk_hash, n_toks
              |  FROM ch WHERE chunk <> '')
              |SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs,
              |  count(*) AS n_occ, CAST(min(n_toks) AS INTEGER) AS n_toks
              |FROM h GROUP BY chunk_hash HAVING count(*) > 1
              |ORDER BY chunk_hash""".stripMargin)),

    // q94 — BPE merge-pair statistics: the counting step of byte-pair-
    // encoding tokenizer training. Words are collapsed to (word, freq)
    // FIRST — the vocabulary is corpus-sublinear, so every later stage
    // (pair enumeration over character positions, the pair aggregate)
    // works on vocab-scale data, never corpus-scale; this is exactly how
    // production BPE trainers avoid rescanning the corpus per merge.
    // Output = the top-20 adjacent character pairs by frequency-weighted
    // count — the first merge candidates. (Full training iterates
    // merge → recount on the vocab table; the loop shape is the
    // checkpoint-per-round pattern of ops.ConnectedComponents.)
    QuerySpec("q94_bpe_merges",
      (s, dir) => {
        val wc = Tables.load(s, dir, "documents")
          .select(explode(Text.tokens(lower(col("text")))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
        wc
          // sequence(1, n) DESCENDS when n < 1 (unlike DuckDB's empty
          // generate_series) — guard 1-char words explicitly
          .filter(length(col("word")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
          .groupBy("pair").agg(sum(col("cnt")).as("weight"))
          .orderBy(col("weight").desc, col("pair"))
          .limit(20)
      },
      Some(s"""WITH w AS (SELECT unnest($duckTokens) AS word FROM documents),
              |wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
              |p AS (SELECT substring(word, i, 2) AS pair, cnt
              |      FROM wc, UNNEST(generate_series(1, len(word) - 1)) AS t(i)
              |      WHERE len(word) >= 2)
              |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS weight
              |FROM p GROUP BY pair ORDER BY weight DESC, pair LIMIT 20""".stripMargin)),

    // q95 — deterministic data-mixture downsampling: hit per-language
    // target rates by selecting docs whose portable doc_id hash lands
    // under the rate threshold — no RNG state, so the sample is
    // reproducible run-to-run and machine-to-machine (the property that
    // makes mixture rebalancing idempotent across pipeline re-runs, same
    // mechanism as q45's hash splits). Selection is a scan-local
    // predicate: at 100 TB the sampled subset never materializes more
    // than its own rows, and the summary is one vocab-small aggregate.
    // Rates live in ONE Scala map; the oracle CASE is generated from it
    // (NOTES rule 7).
    QuerySpec("q95_mixture_sample",
      (s, dir) => {
        val sel = Text.hash32(col("doc_id").cast("string")) % 100 <
          mixRates.foldLeft(lit(mixDefault)) { case (acc, (l, r)) =>
            when(col("lang") === l, lit(r)).otherwise(acc)
          }
        Tables.load(s, dir, "documents")
          .select(col("lang"), when(sel, 1L).otherwise(0L).as("s"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"), sum(col("s")).as("n_sampled"))
          .select(col("lang"), col("n_total"), col("n_sampled"),
            round(col("n_sampled").cast("double") / col("n_total"), 4).as("ratio"))
          .orderBy("lang")
      },
      Some {
        val caseSql = "CASE lang " + mixRates.map { case (l, r) =>
          s"WHEN '$l' THEN $r"
        }.mkString(" ") + s" ELSE $mixDefault END"
        s"""SELECT lang, count(*) AS n_total,
           |  CAST(SUM(CASE WHEN (CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)) % 100 < $caseSql
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           |  round(CAST(SUM(CASE WHEN (CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)) % 100 < $caseSql
           |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS ratio
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
      }),

    // q123 — temperature-based mixture reweighting (the count^α source
    // sampler behind every multi-source pretraining mix — α<1 upsamples
    // small sources relative to their share): per-source quota_s =
    // T·w_s/W with w_s = round(sqrt(n_s)·1e6) (α = 0.5) and T = 40% of
    // the corpus, then the quota_s docs with the smallest portable hash
    // in each source are kept. ALL quota arithmetic is exact fixed-point
    // (w in micros; the T·w product in DECIMAL(38,0)/HUGEINT, since it
    // reaches ~1e29 at 1e10 docs and would wrap a BIGINT), so both
    // engines compute identical quotas — a float share·T would ceil()
    // differently on the last ulp.
    //
    // Scale shape: one tiny per-source aggregate (|sources| rows,
    // broadcast back), one window ranked by hash WITHIN source —
    // parallelism = source count; a deployment with few huge sources
    // subshards the ring like q122. Selection-by-rank (not by hash
    // threshold like q95) hits quotas EXACTLY, which is what mixture
    // specs demand.
    QuerySpec("q123_temperature_mix",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val stats = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
          .withColumn("w", round(sqrt(col("n_s")) * 1e6).cast("long"))
        val tot = stats.agg(sum(col("n_s")).as("n_tot"), sum(col("w")).as("big_w"))
        // Quota arithmetic in DECIMAL(38,0): T·w reaches ~1e29 for a
        // 1e10-doc corpus, which overflows BIGINT (and with ANSI off
        // would WRAP negative and clamp every big source to quota=1);
        // 38-digit decimals keep the product exact far beyond any
        // corpus. The oracle mirrors with HUGEINT. Column `/` is double
        // division in Spark — floor(decimal/decimal) keeps it exact.
        val quotas = stats.crossJoin(broadcast(tot))
          .select(col("source"), col("n_s"),
            greatest(lit(1L), expr(
              """CAST(floor(CAST(n_tot * 2 DIV 5 AS DECIMAL(38,0)) * w / big_w)
                 AS BIGINT)""")).as("quota"))
        val wsrc = Window.partitionBy("source")
          .orderBy(col("h"), col("doc_id"))
        docs.select(col("doc_id"), col("source"),
            Text.hash32(concat(col("doc_id").cast("string"), lit("_mix"))).as("h"))
          .withColumn("rn", row_number().over(wsrc))
          .join(broadcast(quotas), "source")
          .filter(col("rn") <= col("quota"))
          .select(col("doc_id"), col("source"), col("rn").cast("long").as("rank_in_source"),
            col("quota"))
          .orderBy("doc_id")
      },
      Some("""WITH stats AS (
             |  SELECT source, count(*) AS n_s,
             |    CAST(round(sqrt(count(*)) * 1e6) AS BIGINT) AS w
             |  FROM documents GROUP BY source),
             |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot,
             |               CAST(SUM(w) AS BIGINT) AS big_w FROM stats),
             |quotas AS (
             |  SELECT source, n_s,
             |    CAST(greatest(1, (CAST(n_tot * 2 // 5 AS HUGEINT) * w) // big_w) AS BIGINT) AS quota
             |  FROM stats, tot),
             |ranked AS (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source ORDER BY
             |      CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'_mix'),1,8) AS BIGINT),
             |      doc_id) AS rn
             |  FROM documents)
             |SELECT r.doc_id, r.source, CAST(r.rn AS BIGINT) AS rank_in_source, q.quota
             |FROM ranked r JOIN quotas q ON r.source = q.source
             |WHERE r.rn <= q.quota
             |ORDER BY r.doc_id""".stripMargin)),

    // q96 — the pretraining-corpus preparation pipeline END TO END, as
    // one lineage: quality signals (token count, stopword ratio,
    // punctuation ratio) → language gate → exact dedup (keep-first by
    // fingerprint) → PII redaction → emit the clean-text digest. Every
    // stage reuses the operator the standalone queries gate one by one
    // (q25/q26/q27/q24/q48), demonstrating that the pieces compose into
    // a single Catalyst plan: all scoring is scan-local, the ONLY
    // shuffle before the final sort is the dedup groupBy on the
    // fingerprint — at 100 TB the pipeline is one pass over the corpus
    // plus one content-keyed exchange. Ratios are rounded identically in
    // both engines BEFORE the threshold compare (q86 lesson), so filter
    // membership cannot flip on the last ulp.
    QuerySpec("q96_pretrain_prep",
      (s, dir) => {
        val nTok = Text.tokenCount(col("text"))
        val nStop = Text.stopwordCount(col("text"))
        val nPun = Text.punctCount(col("text"))
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            Text.langId(col("text")).as("lang_id"),
            Text.fingerprint(col("text")).as("fp"),
            nTok.as("n_tokens"),
            round(nStop.cast("double") / nTok, 4).as("stop_ratio"),
            round(nPun.cast("double") / length(col("text")), 4).as("punct_ratio"))
          .filter(col("lang_id").isin("en", "de", "fr", "es") &&
            col("stop_ratio") >= 0.02 && col("punct_ratio") <= 0.2 &&
            col("n_tokens") >= 20)
        scored
          .groupBy("fp")
          .agg(min(struct(col("doc_id"), col("lang_id"), col("n_tokens"),
            col("stop_ratio"), col("punct_ratio"), col("text"))).as("r"))
          .select(col("r.doc_id").as("doc_id"), col("r.lang_id").as("lang_id"),
            col("r.n_tokens").as("n_tokens"),
            col("r.stop_ratio").as("stop_ratio"),
            col("r.punct_ratio").as("punct_ratio"),
            md5(regexp_replace(col("r.text"), "[0-9]+", "#NUM")).as("clean_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH scored AS (SELECT doc_id, text, $duckLangId AS lang_id,
              |    md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
              |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
              |    round(CAST(len(list_filter($duckTokens, x -> x IN ($stopList))) AS DOUBLE)
              |      / len(string_split_regex(trim(text), '\\s+')), 4) AS stop_ratio,
              |    round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
              |      / length(text), 4) AS punct_ratio
              |  FROM documents),
              |f AS (SELECT * FROM scored
              |  WHERE lang_id IN ('en', 'de', 'fr', 'es')
              |    AND stop_ratio >= 0.02 AND punct_ratio <= 0.2 AND n_tokens >= 20),
              |d AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f)
              |SELECT doc_id, lang_id, n_tokens, stop_ratio, punct_ratio,
              |  md5(regexp_replace(text, '[0-9]+', '#NUM', 'g')) AS clean_md5
              |FROM d WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // q97 — per-column data profiling: row count, null count, distinct
    // count, and formatted min/max for a mixed-type column set. Shape
    // matters: N distinct-aggregates in ONE aggregate plan through an
    // Expand that multiplies every input row N+1× (measured 5.6s at
    // sf0.1); instead each column pre-groups on its own values — the
    // groupBy dedups map-side, so the shuffle carries one row per
    // DISTINCT value — and every stat (n = Σcnt, nulls = cnt of the null
    // group, distincts = non-null group count, min/max over group keys)
    // falls out of the tiny grouped table. Each branch's scan prunes to
    // its single column. The ingest-validation op of a pipeline: schema
    // drift, null regressions, out-of-range values surface here first.
    // Min/max are formatted EXPLICITLY per type (decimal 2dp, timestamp
    // pattern) because raw double/timestamp → string rendering is the
    // one place the engines' defaults drift.
    QuerySpec("q97_profile",
      (s, dir) => {
        val li = Tables.load(s, dir, "lineitem")
        def dec(c: org.apache.spark.sql.Column) =
          c.cast("decimal(18,2)").cast("string")
        def ts(c: org.apache.spark.sql.Column) =
          date_format(c, "yyyy-MM-dd HH:mm:ss")
        def str(c: org.apache.spark.sql.Column) = c.cast("string")
        def prof(name: String, fmt: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
          li.groupBy(col(name).as("v")).agg(count(lit(1)).as("cnt"))
            .agg(sum(col("cnt")).as("n"),
              coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
              count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
              fmt(min(col("v"))).as("min_val"), fmt(max(col("v"))).as("max_val"))
            .select(lit(name).as("column_name"), col("n"), col("n_null"),
              col("n_distinct"), col("min_val"), col("max_val"))
        prof("l_extendedprice", dec)
          .unionAll(prof("l_quantity", dec))
          .unionAll(prof("l_returnflag", str))
          .unionAll(prof("l_shipdate", ts))
          .orderBy("column_name")
      },
      Some("""SELECT * FROM (
             | SELECT 'l_extendedprice' AS column_name, count(*) AS n,
             |   CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             |   count(DISTINCT l_extendedprice) AS n_distinct,
             |   CAST(CAST(min(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS min_val,
             |   CAST(CAST(max(l_extendedprice) AS DECIMAL(18,2)) AS VARCHAR) AS max_val
             | FROM lineitem
             | UNION ALL
             | SELECT 'l_quantity', count(*),
             |   CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |   count(DISTINCT l_quantity),
             |   CAST(CAST(min(l_quantity) AS DECIMAL(18,2)) AS VARCHAR),
             |   CAST(CAST(max(l_quantity) AS DECIMAL(18,2)) AS VARCHAR)
             | FROM lineitem
             | UNION ALL
             | SELECT 'l_returnflag', count(*),
             |   CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |   count(DISTINCT l_returnflag), min(l_returnflag), max(l_returnflag)
             | FROM lineitem
             | UNION ALL
             | SELECT 'l_shipdate', count(*),
             |   CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |   count(DISTINCT l_shipdate),
             |   strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'),
             |   strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S')
             | FROM lineitem)
             |ORDER BY column_name""".stripMargin)),

    // q104 — duplicate rate per source (corpus-health report): exact-dup
    // rank within each content fingerprint (first doc_id is the original,
    // the rest are duplicates), rolled up to the source that contributed
    // them. Two keyed shuffles (fingerprint, then source — the second
    // over source-count grain only after the window), the per-source
    // quality signal a crawl pipeline uses to deprioritize feeds.
    QuerySpec("q104_dup_rate_source",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            Text.fingerprint(col("text")).as("fp"))
        val w = Window.partitionBy("fp").orderBy("doc_id")
        docs.withColumn("rn", row_number().over(w))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dups"))
          .withColumn("dup_share", round(col("n_dups") / col("n_docs"), 4))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    row_number() OVER (
             |      PARTITION BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
             |      ORDER BY doc_id) AS rn
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
             |  round(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) / count(*), 4) AS dup_share
             |FROM d GROUP BY source ORDER BY source""".stripMargin)),

    // q105 — weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES): each doc draws a deterministic pseudo-uniform u from its
    // portable id hash, and the top-k by ln(u)/weight are the sample —
    // selection probability proportional to weight (here n_chars, so the
    // sample skews to long docs the way a token-budgeted corpus draw
    // should). One scan + TakeOrderedAndProject: no shuffle of the
    // corpus, k rows to the driver side regardless of input size.
    // Ordering is on the ROUNDED key + doc_id so the top-k cut can't
    // flip on a last-ulp ln() difference between engines.
    QuerySpec("q105_weighted_sample",
      (s, dir) => {
        val u = (Text.hash32(col("doc_id").cast("string")) % 999983 + 1) /
          lit(999984.0)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            round(log(u) / col("n_chars"), 6).as("skey"))
          .orderBy(desc("skey"), col("doc_id"))
          .limit(20)
      },
      Some("""SELECT doc_id, source, n_chars,
             |  round(ln(((CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT)) % 999983 + 1)
             |        / 999984.0) / n_chars, 6) AS skey
             |FROM documents
             |ORDER BY skey DESC, doc_id LIMIT 20""".stripMargin)),

    // q107 — in-document repetition ratio (the Gopher-style "fraction of
    // duplicate 3-grams" quality rule): docs that repeat themselves are
    // boilerplate/spam candidates. Entirely scan-local higher-order
    // functions — the token array is bound ONCE in a lower projection
    // (inlining it would re-tokenize per lambda reference), 3-grams via
    // index transform (no per-element slice() copies), and the ratio is
    // one raw IEEE division of two identical ints (a round() here could
    // land on an exactly-representable half, where engines disagree).
    QuerySpec("q107_repetition",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("t"))
        val n = size(col("t"))
        // guard n < 3: Spark sequence(1, 0) DESCENDS ([1, 0]) instead of
        // returning empty like DuckDB generate_series, and element_at(_, 0)
        // throws — short docs must take the empty-array branch explicitly
        val grams = when(n >= 3,
          transform(sequence(lit(1), n - 2), i => concat_ws(" ",
            element_at(col("t"), i), element_at(col("t"), i + 1),
            element_at(col("t"), i + 2))))
          .otherwise(array().cast("array<string>"))
        toks.select(col("doc_id"), grams.as("g"))
          .select(col("doc_id"),
            size(col("g")).as("n_grams"),
            when(size(col("g")) > 0,
              (size(col("g")) - size(array_distinct(col("g")))) / size(col("g")))
              .otherwise(0.0).as("rep_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS t
             |  FROM documents),
             |g AS (SELECT doc_id, list_transform(generate_series(1, len(t) - 2),
             |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS g
             |  FROM tk)
             |SELECT doc_id, CAST(len(g) AS INTEGER) AS n_grams,
             |  CASE WHEN len(g) > 0
             |    THEN (len(g) - len(list_distinct(g))) / len(g)
             |    ELSE 0.0 END AS rep_ratio
             |FROM g ORDER BY doc_id""".stripMargin)),

    // q108 — unigram log-probability scoring (the CCNet/KenLM-shaped
    // quality signal, with the corpus itself as the language model): build
    // the unigram distribution once, score every doc by its mean negative
    // log-probability. Two corpus passes: token explode → vocab counts
    // (one shuffle on token), then doc scoring re-joins tokens to the
    // vocab — vocab-sized build side (words, not documents; a shuffle
    // join at 100 TB only if the vocab outgrows broadcast). Per-token
    // log-probs are rounded to 6 decimals and summed as DECIMAL so the
    // per-doc sum is order-independent; the final mean is one raw IEEE
    // division.
    QuerySpec("q108_unigram_logprob",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(Text.tokens(lower(col("text")))).as("t"))
        val vocab = tok.groupBy("t").agg(count(lit(1)).as("cnt"))
        val total = vocab.agg(sum(col("cnt")).cast("double").as("total"))
        val lp = vocab.crossJoin(broadcast(total))
          .select(col("t"),
            round(log(col("cnt") / col("total")), 6)
              .cast("decimal(12,6)").as("lp"))
        tok.join(lp, Seq("t"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"), sum(col("lp")).as("slp"))
          .select(col("doc_id"), col("n_tok"),
            (-col("slp").cast("double") / col("n_tok")).as("avg_nll"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
             |  FROM documents),
             |v AS (SELECT t, count(*) AS cnt FROM tok GROUP BY 1),
             |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM v),
             |lp AS (SELECT t, CAST(round(ln(cnt / total), 6) AS DECIMAL(12,6)) AS lp
             |  FROM v, tot)
             |SELECT doc_id, count(*) AS n_tok,
             |  -CAST(SUM(lp) AS DOUBLE) / count(*) AS avg_nll
             |FROM tok JOIN lp USING (t)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // q109 — BM25 retrieval: score a fixed term query against the corpus
    // (the search-engine upgrade of q74's TF-IDF; Robertson/Sparck-Jones
    // idf, k1=1.2, b=0.75). ONE corpus pass: tokens explode into a single
    // per-doc aggregate that carries doc length AND the per-queryterm
    // conditional counts, so no corpus-keyed join exists at all; corpus
    // stats (avgdl, df per term) are a 1-row aggregate of that per-doc
    // table, broadcast into the scoring projection. Top-10 docs by score —
    // TakeOrderedAndProject, k rows off the cluster. Oracle parity: all
    // BM25 constants are interpolated from the same Scala doubles
    // (toString round-trips), scores are per-term-rounded then summed in
    // a fixed left-fold, ties break on doc_id.
    QuerySpec("q109_bm25", {
      val qterms = Seq("spark", "join", "stream")
      val k1 = 1.2
      val b = 0.75
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("w"))
        val aggs = count(lit(1)).as("dl") +:
          qterms.map(t => sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$t"))
        val perDoc = tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
        val stAggs =
          (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl") +:
          count(lit(1)).cast("double").as("n_docs") +:
          qterms.map(t =>
            sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).cast("double").as(s"df_$t"))
        val stats = perDoc.agg(stAggs.head, stAggs.tail: _*)
        val score = qterms.map { t =>
          val tf = col(s"tf_$t").cast("double")
          val df = col(s"df_$t")
          val idf = log(lit(1.0) +
            (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))
          val norm = tf + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl"))
          when(col(s"tf_$t") > 0, round(idf * (tf * lit(k1 + 1)) / norm, 6))
            .otherwise(lit(0.0))
        }.reduce(_ + _)
        perDoc.crossJoin(broadcast(stats))
          .select(col("doc_id"), col("dl"), score.as("bm25"))
          .filter(col("bm25") > 0)
          .orderBy(desc("bm25"), col("doc_id"))
          .limit(10)
      }
    }, {
      val qterms = Seq("spark", "join", "stream")
      val k1 = 1.2
      val b = 0.75
      val tfCols = qterms.map(t =>
        s"SUM(CASE WHEN w = '$t' THEN 1 ELSE 0 END) AS tf_$t").mkString(", ")
      val dfCols = qterms.map(t =>
        s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t")
        .mkString(", ")
      val scoreSql = qterms.map { t =>
        s"""CASE WHEN tf_$t > 0 THEN round(
           |    ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5))
           |    * (CAST(tf_$t AS DOUBLE) * ${k1 + 1})
           |    / (CAST(tf_$t AS DOUBLE)
           |       + $k1 * (1.0 - $b + $b * CAST(dl AS DOUBLE) / avgdl)), 6)
           |  ELSE 0.0 END""".stripMargin
      }.mkString(" + ")
      Some(s"""WITH tok AS (SELECT doc_id,
              |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
              |  FROM documents),
              |pd AS (SELECT doc_id, count(*) AS dl, $tfCols
              |  FROM tok GROUP BY doc_id),
              |st AS (SELECT
              |    CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
              |    CAST(count(*) AS DOUBLE) AS n_docs, $dfCols
              |  FROM pd)
              |SELECT doc_id, dl, bm25 FROM (
              |  SELECT doc_id, dl, $scoreSql AS bm25 FROM pd, st)
              |WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin)
    }),

    // q112 — per-document token Shannon entropy (lexical-diversity
    // quality signal: near-zero entropy = the repeated-token boilerplate
    // q107 flags by ratio). Uses the streaming-friendly identity
    // H = ln(n) - (Σ c·ln c)/n so ONE explode + two keyed aggregations
    // suffice — no per-doc second pass to learn n first. The Σ c·ln c
    // partial is per-term-rounded then summed as DECIMAL (order-
    // independent across any partitioning); the final entropy is rounded
    // to 6 decimals because the bare ln(n) term differs by 1 ulp between
    // the JVM and libm for some inputs (observed at sf0.001).
    QuerySpec("q112_token_entropy",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(Text.tokens(lower(col("text")))).as("w"))
        tok.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_tok"),
            sum(round(col("c") * log(col("c").cast("double")), 6)
              .cast("decimal(14,6)")).as("sclc"))
          .select(col("doc_id"), col("n_tok"),
            round(log(col("n_tok").cast("double")) -
              col("sclc").cast("double") / col("n_tok").cast("double"), 6)
              .as("entropy"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS w
              |  FROM documents),
              |tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
              |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
              |    SUM(CAST(round(c * ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(14,6))) AS sclc
              |  FROM tf GROUP BY 1)
              |SELECT doc_id, n_tok,
              |  round(ln(CAST(n_tok AS DOUBLE)) - CAST(sclc AS DOUBLE) / CAST(n_tok AS DOUBLE), 6) AS entropy
              |FROM agg ORDER BY doc_id""".stripMargin)),

    // q113 — tokenizer application: every document becomes its ordered
    // id sequence under the q88 dense vocabulary. The corpus-scale work
    // is one posexplode + one shuffle join keyed on the token (honest at
    // 100 TB — the vocab outgrows broadcast with the corpus) + one
    // doc-keyed aggregation that reassembles order via array_sort over
    // (pos, id) structs — no window, no global sort. Output ids are a
    // space-joined string so the gate compares scalars, not lists.
    QuerySpec("q113_token_ids",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(Text.tokens(lower(col("text")))))
          .toDF("doc_id", "pos", "w")
        val vocab = tok.groupBy(col("w").as("token")).agg(count(lit(1)).as("tf"))
          .withColumn("__one", lit(1L))
        val ids = graft.ops.PrefixSum.cumsum(vocab, "token", "__one", "vocab_id")
          .select(col("token"), col("vocab_id"))
        tok.join(ids, tok("w") === ids("token"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            expr("array_join(transform(array_sort(collect_list(struct(pos, vocab_id))), x -> CAST(x.vocab_id AS STRING)), ' ')")
              .as("ids"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $duckTokens AS t FROM documents),
              |tok AS (SELECT doc_id,
              |    unnest(generate_series(1, len(t))) AS pos, unnest(t) AS w
              |  FROM tk),
              |v AS (SELECT w AS token, row_number() OVER (ORDER BY w) AS vocab_id
              |  FROM (SELECT DISTINCT w FROM tok))
              |SELECT doc_id, count(*) AS n_tok,
              |  string_agg(CAST(vocab_id AS VARCHAR), ' ' ORDER BY pos) AS ids
              |FROM tok JOIN v ON tok.w = v.token
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // q114 — deterministic epoch shuffle + sharding: the training-loader
    // op — a seedable global permutation of the corpus (portable hash of
    // doc_id + epoch tag, doc_id tiebreak) mapped to (shard,
    // pos_in_shard) with 64 docs per shard. The permutation rank comes
    // from ops.PrefixSum ordered on the TUPLE (hash, doc_id) — no
    // single-reducer global window, and no numeric key-packing (the old
    // hash*1e9+doc_id form silently required doc_id < 1e9; tuple
    // ordering is injective at any id range — ADVICE r04). Re-sharding
    // 100 TB is one ranged exchange. Same seed → same shards on any
    // cluster layout; next epoch is just a different tag.
    QuerySpec("q114_epoch_shuffle",
      (s, dir) => {
        val keyed = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            Text.hash32(concat(col("doc_id").cast("string"), lit("_ep7")))
              .as("ep_hash"))
          .withColumn("__one", lit(1L))
        graft.ops.PrefixSum.cumsum(keyed, Seq("ep_hash", "doc_id"),
            "__one", "pos")
          .select(col("doc_id"), expr("(pos - 1) div 64").as("shard"),
            expr("(pos - 1) % 64").as("pos_in_shard"))
          .orderBy("shard", "pos_in_shard")
      },
      Some("""WITH k AS (SELECT doc_id,
             |    CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '_ep7'),1,8) AS BIGINT)
             |      AS ep_hash
             |  FROM documents),
             |p AS (SELECT doc_id, row_number() OVER (ORDER BY ep_hash, doc_id) AS pos FROM k)
             |SELECT doc_id, (pos - 1) // 64 AS shard, (pos - 1) % 64 AS pos_in_shard
             |FROM p ORDER BY shard, pos_in_shard""".stripMargin)),

    // q117/q211 share one model: qualityP / duckQualityP below the spec
    // list — single source so classifier and calibration cannot drift.
    // q117 — deterministic quality-classifier scoring (the fastText-
    // quality-filter stand-in every corpus pipeline runs): a fixed
    // logistic model over the q26 feature set — sigmoid(w·x + b) with
    // hand-set weights — and the keep/drop decision at p >= 0.5.
    // Entirely scan-local projection (codegen; zero shuffles beyond the
    // final sort); at 100 TB, model scoring is a map-side op by
    // construction. Parity: features are the 4-decimal-rounded ratios
    // q26 already proves portable, the logit is one fixed left-fold,
    // and the sigmoid output is rounded to 6 (transcendental — NOTES
    // q112 lesson).
    QuerySpec("q117_quality_logit",
      (s, dir) => {
        val p = qualityP
        Tables.load(s, dir, "documents").select("doc_id", "text")
          .orderBy("doc_id")
          .select(col("doc_id"), p.as("quality_p"), (p >= 0.5).as("keep"))
      },
      Some(s"""SELECT doc_id,
              |  $duckQualityP AS quality_p,
              |  $duckQualityP >= 0.5 AS keep
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // q118 — per-language corpus card (the dataset-datasheet summary a
    // release pipeline publishes): docs, tokens, mean length, and token
    // share per language. One corpus pass into a language-grain
    // aggregate; the share denominator is a 1-row re-aggregate of the
    // per-language table (grains, not rows), broadcast back. All outputs
    // are exact-integer arithmetic plus one IEEE division each — no
    // rounding needed.
    QuerySpec("q118_corpus_card",
      (s, dir) => {
        val per = Tables.load(s, dir, "documents")
          .select(col("lang"), col("n_chars"),
            Text.tokenCount(col("text")).cast("long").as("n_tok"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        val tot = per.agg(sum(col("n_tokens")).cast("double").as("tot_tokens"))
        per.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"), col("n_tokens"), col("avg_chars"),
            (col("n_tokens") / col("tot_tokens")).as("token_share"))
          .orderBy("lang")
      },
      Some("""WITH per AS (SELECT lang, count(*) AS n_docs,
             |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
             |    CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars
             |  FROM documents GROUP BY lang),
             |tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_tokens FROM per)
             |SELECT lang, n_docs, n_tokens, avg_chars,
             |  n_tokens / tot_tokens AS token_share
             |FROM per, tot ORDER BY lang""".stripMargin)),

    // q116 — Bloom-filter membership screen (the last classic sketch
    // next to HLL q60 / CMS q78 / minhash q75): an incoming batch is
    // probed against a Bloom filter of the existing corpus's content
    // digests — definite-new docs skip the expensive dedup path
    // entirely, only probable-dups proceed to exact verification. The
    // filter here is RELATIONAL: set bits live as a distinct
    // bit-position relation (bounded by nBits) and the probe is a
    // left join + all-positions-set aggregate — exactly the shape that
    // hash-partitions at 100 TB (one bloom partition per reducer), and,
    // because the k=7 positions come from the PORTABLE md5 double-
    // hashing family, the generated DuckDB oracle replays it bit-exact
    // (VERDICT r8 #3 — this closed the last rows-only gate). The
    // no-false-negative guarantee is structural: a member's positions
    // are all in the set-bit relation by construction. Spark's own
    // codegen'd bloom expressions (graft_bloom_agg/graft_might_contain,
    // the runtime-row-filter machinery) remain the literal/broadcast
    // fast path for bounded build sides — q273 runs them under the
    // gate and NewOpsSpec pins their no-false-negative invariant.
    QuerySpec("q116_bloom_newdocs",
      (s, dir) => {
        // h1/h2 double-hashing family straight from the md5 CONTENT
        // digest (chars 1-8 and 9-16) — portable by construction; the
        // k=7 positions (h1 + i·h2) mod nBits are BIGINT arithmetic on
        // non-negatives, identical in both engines. nBits = 10·n
        // (integer ≈9.6 bits/item = 3% fpp) — the one bounded driver
        // scalar (q168 class); the oracle recomputes it as a scalar
        // subquery.
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
          .select(col("doc_id"), col("source"),
            conv(substring(col("fp"), 1, 8), 16, 10).cast("long").as("h1"),
            conv(substring(col("fp"), 9, 8), 16, 10).cast("long").as("h2"))
        val existing = docs.filter(col("doc_id") % 2 === 0)
        val incoming = docs.filter(col("doc_id") % 2 === 1)
        val nBits = math.max(10L * existing.count(), 64L)
        def positions(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"), col("source"),
              explode(array((0 until BloomK).map(i =>
                (col("h1") + lit(i.toLong) * col("h2")) % nBits): _*)).as("bit"))
            .distinct() // within-doc position collisions collapse
        val bits = positions(existing).select("bit").distinct()
          .withColumn("set", lit(1))
        positions(incoming)
          .join(bits, Seq("bit"), "left")
          .groupBy("doc_id", "source")
          .agg(min(coalesce(col("set"), lit(0))).as("all_set"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("all_set") === 1, 1L).otherwise(0L)).as("n_maybe_dup"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (SELECT doc_id, source,
              |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS h1,
              |    CAST('0x' || substr(md5(text), 9, 8) AS BIGINT) AS h2
              |  FROM documents),
              |nb AS (SELECT GREATEST(10 * count(*), 64) AS nbits
              |  FROM d WHERE doc_id % 2 = 0),
              |ep AS (SELECT DISTINCT (h1 + i * h2) % nbits AS bit
              |  FROM d, nb, UNNEST(generate_series(0, ${BloomK - 1})) t(i)
              |  WHERE doc_id % 2 = 0),
              |ip AS (SELECT DISTINCT doc_id, source, (h1 + i * h2) % nbits AS bit
              |  FROM d, nb, UNNEST(generate_series(0, ${BloomK - 1})) t(i)
              |  WHERE doc_id % 2 = 1),
              |pd AS (SELECT ip.doc_id, ip.source,
              |    MIN(CASE WHEN ep.bit IS NULL THEN 0 ELSE 1 END) AS all_set
              |  FROM ip LEFT JOIN ep ON ip.bit = ep.bit GROUP BY 1, 2)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(all_set) AS BIGINT) AS n_maybe_dup
              |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q125 — sequence packing for training: concatenate the token stream
    // in doc_id order and chunk it into fixed 512-token context windows;
    // each document gets its start offset, the window its first token
    // lands in, and whether it straddles a window boundary (the stat a
    // packing-efficiency report needs). The cumulative offset is the
    // distributed two-phase PrefixSum (range partition + per-partition
    // window + broadcast offsets) — NOT a global Window.orderBy, which
    // funnels the whole corpus through one reducer at 100 TB. All
    // arithmetic is exact integers; floor-div by 512.0 is exact below
    // 2^53 total tokens.
    QuerySpec("q125_seq_pack",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            Text.tokenCount(col("text")).cast("long").as("n_tok"))
        graft.ops.PrefixSum.cumsum(toks, "doc_id", "n_tok", "cum")
          .select(col("doc_id"), col("n_tok"),
            (col("cum") - col("n_tok")).as("start_off"),
            floor((col("cum") - col("n_tok")) / lit(512.0)).cast("long").as("seq_id"),
            (floor((col("cum") - 1) / lit(512.0)) >
              floor((col("cum") - col("n_tok")) / lit(512.0))).as("spans"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
             |  FROM documents),
             |c AS (SELECT doc_id, n_tok,
             |    CAST(SUM(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM t)
             |SELECT doc_id, n_tok, cum - n_tok AS start_off,
             |  CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS seq_id,
             |  floor((cum - 1) / 512.0) > floor((cum - n_tok) / 512.0) AS spans
             |FROM c ORDER BY doc_id""".stripMargin)),

    // q126 — pointwise mutual information over within-document token
    // co-occurrence (the collocation signal behind phrase mining and
    // tokenizer-merge candidates). Pair generation is SCAN-LOCAL: each
    // doc's sorted-distinct token array emits its own (t1 < t2) pairs via
    // index HOFs — no doc_id self-join shuffle; the only exchanges are
    // the pair-grain and token-grain aggregates (vocab-bounded, not
    // corpus-bounded). The marginal join is term-keyed (vocab may
    // outgrow broadcast at 100 TB — q108's rule); only the 1-row corpus
    // count broadcasts. One ln + one round(6) per surviving pair keeps
    // the doubles bit-identical across engines.
    QuerySpec("q126_pmi_pairs",
      (s, dir) => {
        val dt = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            array_sort(array_distinct(Text.tokens(lower(col("text"))))).as("w"))
          .persistTracked()
        val k = size(col("w"))
        val pairs = when(k >= 2,
            flatten(transform(sequence(lit(1), k - 1),
              i => transform(sequence(i + lit(1), k),
                j => struct(element_at(col("w"), i).as("t1"),
                  element_at(col("w"), j).as("t2"))))))
          .otherwise(array().cast("array<struct<t1:string,t2:string>>"))
        val pc = dt.select(explode(pairs).as("p"))
          .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
          .agg(count(lit(1)).as("n_ab"))
        val mg = dt.select(explode(col("w")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("df"))
        val nd = dt.agg(count(lit(1)).cast("double").as("n_docs"))
        pc.join(mg.select(col("t").as("t1"), col("df").as("df_a")), "t1")
          .join(mg.select(col("t").as("t2"), col("df").as("df_b")), "t2")
          .crossJoin(broadcast(nd))
          .select(col("t1"), col("t2"), col("n_ab"),
            round(log(col("n_ab") * col("n_docs") / (col("df_a") * col("df_b"))), 6)
              .as("pmi"))
          .orderBy(desc("pmi"), col("t1"), col("t2")).limit(30)
      },
      Some("""WITH dt AS (SELECT doc_id,
             |    list_sort(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS w
             |  FROM documents),
             |tok AS (SELECT doc_id, unnest(w) AS t FROM dt),
             |pr AS (SELECT a.t AS t1, b.t AS t2 FROM tok a JOIN tok b
             |       ON a.doc_id = b.doc_id AND a.t < b.t),
             |pc AS (SELECT t1, t2, count(*) AS n_ab FROM pr GROUP BY t1, t2),
             |mg AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
             |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
             |SELECT t1, t2, n_ab,
             |  round(ln(n_ab * n_docs / (ma.df * mb.df)), 6) AS pmi
             |FROM pc JOIN mg ma ON pc.t1 = ma.t JOIN mg mb ON pc.t2 = mb.t, nd
             |ORDER BY pmi DESC, t1, t2 LIMIT 30""".stripMargin)),

    // q127 — inverted index build (term → document-frequency + capped
    // posting list), the retrieval-side artifact next to TF-IDF q74 /
    // BM25 q109. Postings are capped at 10 doc_ids BEFORE collecting
    // (row_number within term, a term-grain window — parallel across the
    // vocabulary), so no task ever materializes a common term's
    // corpus-sized posting list; df is the exact count from a separate
    // term-grain aggregate. Postings serialize as a comma-joined string —
    // engine-portable, unlike nested-array hash comparison.
    QuerySpec("q127_inverted_index",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("t"))
          .distinct()
          .persistTracked()
        val win = Window.partitionBy("t").orderBy("doc_id")
        val top = tok.withColumn("rn", row_number().over(win))
          .filter(col("rn") <= 10)
          .groupBy("t")
          .agg(concat_ws(",",
            sort_array(collect_list(col("doc_id"))).cast("array<string>"))
            .as("postings"))
        val dfq = tok.groupBy("t").agg(count(lit(1)).as("df"))
        dfq.join(top, "t")
          .select(col("t").as("term"), col("df"), col("postings"))
          .orderBy(desc("df"), col("term"))
      },
      Some(s"""WITH tok AS (SELECT DISTINCT doc_id, t FROM
              |    (SELECT doc_id, unnest($duckTokens) AS t FROM documents)),
              |top AS (SELECT t, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
              |  FROM (SELECT t, doc_id, row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn
              |        FROM tok)
              |  WHERE rn <= 10 GROUP BY t),
              |d AS (SELECT t, count(*) AS df FROM tok GROUP BY t)
              |SELECT t AS term, df, postings FROM d JOIN top USING (t)
              |ORDER BY df DESC, term""".stripMargin)),

    // q128 — corpus growth / dedup-saturation curve: as ingestion batches
    // arrive (batch = doc_id DIV 100 here; date or crawl-id in
    // production), how many NEW unique contents does each batch add, and
    // what is the cumulative unique count? First-occurrence batch per
    // fingerprint is a content-keyed min-aggregate (one shuffle); the
    // cumulative window then runs over BATCH-grain rows — thousands of
    // batches, not documents, so the single-partition window is the
    // bounded PrefixSum-offsets shape, not a corpus funnel.
    QuerySpec("q128_growth_curve",
      (s, dir) => {
        val h = Tables.load(s, dir, "documents")
          .select(floor(col("doc_id") / lit(100.0)).cast("long").as("batch"),
            Text.fingerprint(col("text")).as("fp"))
        val firsts = h.groupBy("fp").agg(min(col("batch")).as("batch"))
        val nu = firsts.groupBy("batch").agg(count(lit(1)).as("new_uniques"))
        val sz = h.groupBy("batch").agg(count(lit(1)).as("n_docs"))
        val w = Window.orderBy("batch")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        sz.join(nu, Seq("batch"), "left")
          .na.fill(0L, Seq("new_uniques"))
          .withColumn("cum_uniques", sum(col("new_uniques")).over(w))
          .select(col("batch"), col("n_docs"), col("new_uniques"),
            col("cum_uniques"),
            round(lit(1.0) - col("new_uniques") / col("n_docs"), 6).as("dup_rate"))
          .orderBy("batch")
      },
      Some("""WITH h AS (SELECT CAST(floor(doc_id / 100.0) AS BIGINT) AS batch,
             |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
             |  FROM documents),
             |f AS (SELECT fp, min(batch) AS batch FROM h GROUP BY fp),
             |nu AS (SELECT batch, count(*) AS new_uniques FROM f GROUP BY batch),
             |sz AS (SELECT batch, count(*) AS n_docs FROM h GROUP BY batch)
             |SELECT sz.batch, n_docs, COALESCE(new_uniques, 0) AS new_uniques,
             |  CAST(SUM(COALESCE(new_uniques, 0)) OVER (ORDER BY sz.batch) AS BIGINT) AS cum_uniques,
             |  round(1.0 - COALESCE(new_uniques, 0) / n_docs, 6) AS dup_rate
             |FROM sz LEFT JOIN nu ON sz.batch = nu.batch
             |ORDER BY sz.batch""".stripMargin)),

    // q129 — out-of-vocabulary rate per document against the corpus's own
    // top-20 token vocabulary (the coverage check a tokenizer release
    // runs). The vocab is rank-bounded (top-K by count, tie → token
    // order) — K rows, honestly broadcast at any corpus size; the
    // per-doc OOV fraction is then one scan + one doc-grain aggregate.
    QuerySpec("q129_oov_rate",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("t"))
          .persistTracked()
        val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), col("t")).limit(20)
          .select(col("t"), lit(1).as("inv"))
        tok.join(broadcast(vocab), Seq("t"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tok"), col("n_oov"),
            round(col("n_oov") / col("n_tok"), 6).as("oov_rate"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest($duckTokens) AS t FROM documents),
              |v AS (SELECT t FROM (SELECT t, count(*) AS c FROM tok GROUP BY t
              |       ORDER BY c DESC, t LIMIT 20)),
              |j AS (SELECT doc_id,
              |    CASE WHEN t IN (SELECT t FROM v) THEN 0 ELSE 1 END AS oov FROM tok)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
              |  CAST(SUM(oov) AS BIGINT) AS n_oov,
              |  round(SUM(oov) / count(*), 6) AS oov_rate
              |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // q130 — length-bucketed inference batching: bucket documents by
    // token-count band (corpus quartile boundaries 32/56/76, fixed so
    // both engines agree bit-for-bit), then assign contiguous batch ids
    // of 8 docs WITHIN each bucket in doc_id order. The within-bucket
    // rank is cum − min(cum) over the (bucket, doc_id) PrefixSum of ones
    // — per-GROUP distributed ranking with NO per-group single reducer
    // (a Window.partitionBy(bucket) would put a quarter of the corpus on
    // one task at this bucket count); the bucket-grain offset table (4
    // rows) broadcasts back.
    QuerySpec("q130_length_batches",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            Text.tokenCount(col("text")).cast("long").as("n_tok"))
          .withColumn("bucket",
            when(col("n_tok") < 32, 0).when(col("n_tok") < 56, 1)
              .when(col("n_tok") < 76, 2).otherwise(3))
          .withColumn("__one", lit(1L))
        val cum = graft.ops.PrefixSum.cumsum(base, Seq("bucket", "doc_id"),
          "__one", "cum")
        val offs = cum.groupBy("bucket").agg(min(col("cum")).as("b0"))
        cum.join(broadcast(offs), "bucket")
          .select(col("doc_id"), col("n_tok"), col("bucket"),
            floor((col("cum") - col("b0")) / lit(8.0)).cast("long").as("batch_id"))
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT doc_id,
             |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
             |  FROM documents),
             |k AS (SELECT doc_id, n_tok,
             |    CASE WHEN n_tok < 32 THEN 0 WHEN n_tok < 56 THEN 1
             |         WHEN n_tok < 76 THEN 2 ELSE 3 END AS bucket FROM b)
             |SELECT doc_id, n_tok, bucket,
             |  CAST(floor((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) / 8.0) AS BIGINT) AS batch_id
             |FROM k ORDER BY doc_id""".stripMargin)),

    // q131 — PageRank over the near-duplicate candidate graph (rank the
    // canonical doc inside each duplicate neighborhood), 3 fixed-point
    // iterations in exact INTEGER arithmetic: ranks scaled by 1e12,
    // contributions and damping use integral DIV, so both engines
    // produce bit-identical BIGINTs — no float summation-order hazard in
    // an iterative aggregate. Each iteration is one edges×ranks shuffle
    // join plus one dst-grain sum; a production-depth loop would add
    // per-round lineage truncation like ConnectedComponents, but 3
    // unrolled rounds keep the plan linear. Dangling nodes: none by
    // construction — edges are symmetrized, so every node both sends and
    // receives.
    QuerySpec("q131_pagerank",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val cand = candidatePairs(s, dir).persistTracked()
        val edges = cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
          .persistTracked()
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val n = deg.count()
        var state = deg.select(col("src").as("node"), col("deg"),
          lit(1000000000000L / n).as("r"))
        for (_ <- 1 to 3) {
          // each round references the previous state TWICE (contribution
          // select + carry join); persist flattens what would otherwise
          // re-execute the whole prior chain 2^rounds times (the CC
          // lineage lesson, bounded here at 3 unrolled rounds)
          state = state.persistTracked()
          val recv = edges
            .join(state.select(col("node").as("src"), expr("r div deg").as("c")),
              "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(col("c")).as("inr"))
          state = state.drop("r").join(recv, "node")
            .select(col("node"), col("deg"),
              (lit(150000000000L / n) + expr("(85 * inr) div 100")).as("r"))
        }
        state.select(col("node").as("doc_id"), col("r").as("pr"))
          .orderBy("doc_id")
      },
      Some(s"""$duckMinhashCtes,
              |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
              |          UNION ALL SELECT doc_b, doc_a FROM cand),
              |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
              |n AS (SELECT count(*) AS n FROM deg),
              |r0 AS (SELECT src AS node, deg,
              |    1000000000000 // (SELECT n FROM n) AS r FROM deg),
              |c1 AS (SELECT e.dst AS node, CAST(SUM(r0.r // r0.deg) AS BIGINT) AS inr
              |  FROM edges e JOIN r0 ON e.src = r0.node GROUP BY e.dst),
              |r1 AS (SELECT d.src AS node, d.deg,
              |    CAST(150000000000 // (SELECT n FROM n) + (85 * inr) // 100 AS BIGINT) AS r
              |  FROM deg d JOIN c1 ON d.src = c1.node),
              |c2 AS (SELECT e.dst AS node, CAST(SUM(r1.r // r1.deg) AS BIGINT) AS inr
              |  FROM edges e JOIN r1 ON e.src = r1.node GROUP BY e.dst),
              |r2 AS (SELECT d.src AS node, d.deg,
              |    CAST(150000000000 // (SELECT n FROM n) + (85 * inr) // 100 AS BIGINT) AS r
              |  FROM deg d JOIN c2 ON d.src = c2.node),
              |c3 AS (SELECT e.dst AS node, CAST(SUM(r2.r // r2.deg) AS BIGINT) AS inr
              |  FROM edges e JOIN r2 ON e.src = r2.node GROUP BY e.dst),
              |r3 AS (SELECT d.src AS node, d.deg,
              |    CAST(150000000000 // (SELECT n FROM n) + (85 * inr) // 100 AS BIGINT) AS r
              |  FROM deg d JOIN c3 ON d.src = c3.node)
              |SELECT node AS doc_id, r AS pr FROM r3 ORDER BY doc_id""".stripMargin)),

    // q328 — PERSONALIZED PageRank on the near-dup graph: teleport mass
    // goes ONLY to a seed set (even doc_ids), so rank measures
    // proximity TO THE SEEDS — the similarity/recommendation primitive
    // graph ANN systems use, where q131's uniform teleport measures
    // global centrality. Same exact-integer fixed-point discipline
    // (ranks ×1e12, integral div — no float summation hazard, so the
    // 3-round iteration hash-matches); the only changes are the seeded
    // init and the seed-conditional teleport term. Non-seed nodes'
    // rank is pure received mass. Same round-persist lineage rule.
    QuerySpec("q328_personalized_pagerank",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val cand = candidatePairs(s, dir).persistTracked()
        val edges = cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .union(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
          .persistTracked()
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val ns = deg.filter(col("src") % 2 === 0).count()
        var state = deg.select(col("src").as("node"), col("deg"),
          when(col("src") % 2 === 0, lit(1000000000000L / ns))
            .otherwise(lit(0L)).as("r"))
        for (_ <- 1 to 3) {
          state = state.persistTracked()
          val recv = edges
            .join(state.select(col("node").as("src"), expr("r div deg").as("c")),
              "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(col("c")).as("inr"))
          state = state.drop("r").join(recv, "node")
            .select(col("node"), col("deg"),
              (when(col("node") % 2 === 0, lit(150000000000L / ns))
                .otherwise(lit(0L)) + expr("(85 * inr) div 100")).as("r"))
        }
        state.select(col("node").as("doc_id"), col("r").as("ppr"))
          .orderBy("doc_id")
      },
      Some(s"""$duckMinhashCtes,
              |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
              |          UNION ALL SELECT doc_b, doc_a FROM cand),
              |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
              |ns AS (SELECT count(*) AS ns FROM deg WHERE src % 2 = 0),
              |r0 AS (SELECT src AS node, deg,
              |    CASE WHEN src % 2 = 0 THEN 1000000000000 // (SELECT ns FROM ns) ELSE 0 END AS r FROM deg),
              |c1 AS (SELECT e.dst AS node, CAST(SUM(r0.r // r0.deg) AS BIGINT) AS inr
              |  FROM edges e JOIN r0 ON e.src = r0.node GROUP BY e.dst),
              |r1 AS (SELECT d.src AS node, d.deg,
              |    CAST(CASE WHEN d.src % 2 = 0 THEN 150000000000 // (SELECT ns FROM ns) ELSE 0 END + (85 * inr) // 100 AS BIGINT) AS r
              |  FROM deg d JOIN c1 ON d.src = c1.node),
              |c2 AS (SELECT e.dst AS node, CAST(SUM(r1.r // r1.deg) AS BIGINT) AS inr
              |  FROM edges e JOIN r1 ON e.src = r1.node GROUP BY e.dst),
              |r2 AS (SELECT d.src AS node, d.deg,
              |    CAST(CASE WHEN d.src % 2 = 0 THEN 150000000000 // (SELECT ns FROM ns) ELSE 0 END + (85 * inr) // 100 AS BIGINT) AS r
              |  FROM deg d JOIN c2 ON d.src = c2.node),
              |c3 AS (SELECT e.dst AS node, CAST(SUM(r2.r // r2.deg) AS BIGINT) AS inr
              |  FROM edges e JOIN r2 ON e.src = r2.node GROUP BY e.dst),
              |r3 AS (SELECT d.src AS node, d.deg,
              |    CAST(CASE WHEN d.src % 2 = 0 THEN 150000000000 // (SELECT ns FROM ns) ELSE 0 END + (85 * inr) // 100 AS BIGINT) AS r
              |  FROM deg d JOIN c3 ON d.src = c3.node)
              |SELECT node AS doc_id, r AS ppr FROM r3 ORDER BY doc_id""".stripMargin)),

    // q133 — ADAPTIVE quality filtering: instead of a fixed length
    // cutoff, each language keeps documents at or above its own 25th
    // percentile of token count (per-stratum thresholds are how real
    // corpus filters avoid crushing low-resource languages). The
    // threshold table is language-grain — bounded, honestly broadcast;
    // ops.Quantiles ≡ DuckDB `quantile_cont` (the q43 parity), so the
    // filter decision hash-matches, and the distributed rank selection
    // has no per-group value buffer — exact stays viable at 100 TB.
    QuerySpec("q133_adaptive_filter",
      (s, dir) => {
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            Text.tokenCount(col("text")).cast("long").as("n_tok"))
          .persistTracked()
        val thr = graft.ops.Quantiles.quantileCont(base, Seq("lang"),
            "n_tok", Seq("thr" -> 0.25))
          .select(col("lang"), round(col("thr"), 6).as("thr"))
        base.join(broadcast(thr), "lang")
          .groupBy("lang", "thr")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_tok") >= col("thr"), 1L).otherwise(0L)).as("n_kept"))
          .select(col("lang"), col("thr"), col("n_docs"), col("n_kept"),
            round(col("n_kept") / col("n_docs"), 6).as("keep_rate"))
          .orderBy("lang")
      },
      Some("""WITH b AS (SELECT doc_id, lang,
             |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
             |  FROM documents),
             |t AS (SELECT lang, round(quantile_cont(n_tok, 0.25), 6) AS thr
             |      FROM b GROUP BY lang)
             |SELECT b.lang, thr, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(CASE WHEN n_tok >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  round(SUM(CASE WHEN n_tok >= thr THEN 1 ELSE 0 END) / count(*), 6) AS keep_rate
             |FROM b JOIN t ON b.lang = t.lang
             |GROUP BY b.lang, thr ORDER BY b.lang""".stripMargin)),

    // q134 — Zipf rank-frequency slope of the corpus vocabulary (a
    // one-number distribution-shift fingerprint: natural text sits near
    // −1; template/boilerplate corpora flatten). Ranks come from the
    // (−count, token) PrefixSum of ones — vocabulary-scale dense ranking
    // with no single-reducer window (the q88 rule). The least-squares
    // slope is computed from DECIMAL sums of per-term rounded log points,
    // so the five aggregates are summation-order-independent; the final
    // slope is one IEEE division.
    QuerySpec("q134_zipf_slope",
      (s, dir) => {
        val vocab = Tables.load(s, dir, "documents")
          .select(explode(Text.tokens(lower(col("text")))).as("t"))
          .groupBy("t").agg(count(lit(1)).as("cnt"))
          .withColumn("negc", -col("cnt"))
          .withColumn("__one", lit(1L))
        val ranked = graft.ops.PrefixSum.cumsum(vocab, Seq("negc", "t"),
          "__one", "rnk")
        val xy = ranked.select(
          round(log(col("rnk").cast("double")), 6).cast("decimal(12,6)").as("x"),
          round(log(col("cnt").cast("double")), 6).cast("decimal(12,6)").as("y"))
        xy.agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("n").as("n_terms"),
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
              .as("zipf_slope"))
      },
      Some(s"""WITH tok AS (SELECT unnest($duckTokens) AS t FROM documents),
              |v AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
              |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t) AS rnk FROM v),
              |xy AS (SELECT CAST(round(ln(CAST(rnk AS DOUBLE)), 6) AS DECIMAL(12,6)) AS x,
              |              CAST(round(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(12,6)) AS y FROM r),
              |s AS (SELECT CAST(count(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
              |             SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM xy)
              |SELECT n AS n_terms,
              |  round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS zipf_slope
              |FROM s""".stripMargin)),

    // q135 — cross-document boilerplate detection (the C4/RefinedWeb
    // rule: content repeated across MANY documents is template, not
    // prose). A 3-gram's document frequency comes from a distinct
    // (doc, gram) aggregate; grams hitting ≥5 distinct docs are
    // boilerplate, and each document reports what fraction of its gram
    // stream is templated. Gram generation is scan-local (q107's HOF
    // shape); both exchanges are gram-keyed — the boilerplate set is NOT
    // broadcast (at corpus scale it grows with the template population,
    // q108's vocab rule).
    QuerySpec("q135_boilerplate",
      (s, dir) => {
        val toks = Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("t"))
        val grams = toks.select(col("doc_id"),
            explode(Text.shinglesFromTokens(col("t"), 3)).as("g"))
          .persistTracked()
        val boiler = grams.select(col("doc_id"), col("g")).distinct()
          .groupBy("g").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 5).select(col("g"), lit(1).as("b"))
        grams.join(boiler, Seq("g"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("b").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
          .select(col("doc_id"), col("n_grams"), col("n_boiler"),
            round(col("n_boiler") / col("n_grams"), 6).as("boiler_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
             |g AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
             |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g FROM tk),
             |d AS (SELECT g, count(*) AS df
             |      FROM (SELECT DISTINCT doc_id, g FROM g) GROUP BY g),
             |b AS (SELECT g FROM d WHERE df >= 5)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(CASE WHEN g.g IN (SELECT g FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
             |  round(SUM(CASE WHEN g.g IN (SELECT g FROM b) THEN 1 ELSE 0 END) / count(*), 6) AS boiler_ratio
             |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // q138 — train/val/test LEAKAGE audit: near-duplicate pairs that
    // straddle a split boundary (the q45 hash-split) are evaluation
    // contamination — a val/test doc whose near-twin sits in train. The
    // pair space is the minhash-LSH candidate set (bucketed, never
    // all-pairs); split labels join on each endpoint id — two id-keyed
    // shuffle joins against a narrow (id, split) projection. Cross-split
    // survivors are exactly the docs a release pipeline must quarantine.
    QuerySpec("q138_split_leakage",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val bucket = Text.hash32(col("text")) % 100
        val split = when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test")
        val sp = docs.select(col("doc_id"), split.as("split"))
        candidatePairs(s, dir)
          .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
            "doc_a")
          .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
            "doc_b")
          .filter(col("split_a") =!= col("split_b"))
          .select("doc_a", "doc_b", "split_a", "split_b")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""$duckMinhashCtes,
              |sp AS (SELECT doc_id,
              |  CASE WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
              |       WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
              |       ELSE 'test' END AS split
              |  FROM documents)
              |SELECT doc_a, doc_b, a.split AS split_a, b.split AS split_b
              |FROM cand JOIN sp a ON doc_a = a.doc_id JOIN sp b ON doc_b = b.doc_id
              |WHERE a.split <> b.split
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // q139 — repeat-factor mixture expansion (the "epochs per source"
    // knob): undersized sources repeat up to 4× toward the largest
    // source's count — ceil division in exact integers, the multiplier
    // the q123 temperature quota would hand to the loader. The expansion
    // itself is a scan-local explode of sequence(1, rep) — no shuffle
    // until the copy-grain count; the per-source factor table is
    // source-grain, honestly broadcast.
    QuerySpec("q139_repeat_mixture",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val cnt = docs.groupBy("source").agg(count(lit(1)).as("n"))
        val m = cnt.agg(max(col("n")).as("m"))
        val rep = cnt.crossJoin(broadcast(m))
          .select(col("source"),
            least(lit(4L), expr("(m + n - 1) div n")).as("rep"))
        docs.select("doc_id", "source")
          .join(broadcast(rep), "source")
          .select(col("source"), explode(sequence(lit(1L), col("rep"))).as("copy"))
          .groupBy("source", "copy").agg(count(lit(1)).as("n_docs"))
          .orderBy("source", "copy")
      },
      Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
             |m AS (SELECT max(n) AS m FROM c),
             |r AS (SELECT source, least(4, (m + n - 1) // n) AS rep FROM c, m),
             |e AS (SELECT d.source, t.copy
             |  FROM documents d JOIN r ON d.source = r.source,
             |  UNNEST(generate_series(1, rep)) AS t(copy))
             |SELECT source, copy, count(*) AS n_docs FROM e
             |GROUP BY source, copy ORDER BY source, copy""".stripMargin)),

    // q142 — triangle counting over the near-duplicate candidate graph:
    // a triangle means three documents that are all pairwise LSH-similar
    // — the clique signal that separates a genuine duplicate CLUSTER
    // from a chain of borderline pairs (q76's components can be either).
    // Edges are already id-ordered (doc_a < doc_b), so each triangle
    // a<b<c is enumerated exactly once by the classic two-join: wedges
    // (a-b, b-c) then the closing a-c probe — both joins key on a vertex
    // id. At 100 TB graph scale the same plan orders endpoints by degree
    // first (pivot on the low-degree vertex) so wedge fan-out is
    // bounded; the candidate graph here is already near-linear in docs.
    QuerySpec("q142_dup_triangles",
      (s, dir) => {
        val e = candidatePairs(s, dir)
          .persistTracked()
        val tri = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
          .join(e.select(col("doc_a").as("b"), col("doc_b").as("c")), "b")
          .join(e.select(col("doc_a").as("a"), col("doc_b").as("c")),
            Seq("a", "c"))
        tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
          .orderBy("doc_id")
      },
      Some(s"""$duckMinhashCtes,
              |tri AS (SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
              |  FROM cand ab JOIN cand bc ON ab.doc_b = bc.doc_a
              |  JOIN cand ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
              |n AS (SELECT a AS d FROM tri UNION ALL SELECT b FROM tri
              |      UNION ALL SELECT c FROM tri)
              |SELECT d AS doc_id, count(*) AS n_triangles FROM n
              |GROUP BY d ORDER BY doc_id""".stripMargin)),

    // q156 — DSIR-style importance weights (Xie et al. 2023): score every
    // document by how target-like its hashed n-gram feature profile is —
    // w(doc) = Σ_tokens log(p_target(bucket)/p_raw(bucket)) — the
    // data-selection screen that upweights documents resembling a trusted
    // target slice (here lang='en') without training a model. Tokens hash
    // into 64 buckets (portable md5 hash32), the two bucket distributions
    // are add-half smoothed, and the 64-row log-ratio table broadcasts to
    // one scan-grain join; per-bucket log-ratios round to 6 then sum as
    // DECIMAL at doc grain (order-free, the q148 rule). One corpus-sized
    // shuffle total (the doc-grain reduction) — the bucket tables are
    // feature-space-sized, corpus-independent.
    QuerySpec("q156_dsir_weights",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(Text.tokens(lower(col("text")))).as("t"))
          .select(col("doc_id"), col("lang"),
            (Text.hash32(col("t")) % 64).as("bk"))
          .persistTracked()
        val raw = tok.groupBy("bk").agg(count(lit(1)).as("rb"))
        val tgt = tok.filter(col("lang") === "en")
          .groupBy("bk").agg(count(lit(1)).as("tb"))
        val rTot = raw.agg(sum(col("rb")).cast("double").as("r_total"))
        val tTot = tgt.agg(sum(col("tb")).cast("double").as("t_total"))
        val lam = raw.join(tgt, Seq("bk"), "left")
          .crossJoin(broadcast(rTot)).crossJoin(broadcast(tTot))
          .select(col("bk"),
            round(log(((coalesce(col("tb"), lit(0L)) + 0.5) / (col("t_total") + 32.0)) /
                ((col("rb") + 0.5) / (col("r_total") + 32.0))), 6)
              .cast("decimal(12,6)").as("lam"))
        tok.join(broadcast(lam), "bk")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"), sum(col("lam")).as("slam"))
          .select(col("doc_id"), col("n_tok"),
            col("slam").cast("double").as("w"))
          .orderBy("doc_id")
      },
      Some(s"""WITH b AS (SELECT doc_id, lang,
              |    CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 64 AS bk
              |  FROM (SELECT doc_id, lang, unnest($duckTokens) AS t FROM documents)),
              |raw AS (SELECT bk, count(*) AS rb FROM b GROUP BY bk),
              |tgt AS (SELECT bk, count(*) AS tb FROM b WHERE lang = 'en' GROUP BY bk),
              |rt AS (SELECT CAST(SUM(rb) AS DOUBLE) AS r_total FROM raw),
              |tt AS (SELECT CAST(SUM(tb) AS DOUBLE) AS t_total FROM tgt),
              |lam AS (SELECT raw.bk,
              |    CAST(round(ln(((COALESCE(tb, 0) + 0.5) / (t_total + 32.0)) /
              |      ((rb + 0.5) / (r_total + 32.0))), 6) AS DECIMAL(12,6)) AS lam
              |  FROM raw LEFT JOIN tgt ON raw.bk = tgt.bk, rt, tt)
              |SELECT doc_id, count(*) AS n_tok, CAST(SUM(lam) AS DOUBLE) AS w
              |FROM b JOIN lam ON b.bk = lam.bk
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // q157 — tokenizer fertility per language: subword-per-word and
    // chars-per-subword ratios of the q62 GPT-2-ish pre-tokenizer against
    // the whitespace word count — the standard gauge of how expensive
    // each language is to tokenize (fertility ≫ 1 means the tokenizer
    // fragments that language's text). Pure scan-local projections into a
    // lang-grain aggregate (5 groups); integer sums, two IEEE divisions
    // at the end.
    QuerySpec("q157_fertility",
      (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("lang"),
            Text.tokenCount(col("text")).cast("long").as("nw"),
            size(expr("""regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)"""))
              .cast("long").as("ns"),
            length(col("text")).cast("long").as("nc"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
            sum(col("ns")).as("n_sub"), sum(col("nc")).as("n_chars"))
          .select(col("lang"), col("n_docs"), col("n_words"), col("n_sub"),
            round(col("n_sub") / col("n_words"), 6).as("fertility"),
            round(col("n_chars") / col("n_sub"), 6).as("chars_per_sub"))
          .orderBy("lang")
      },
      Some("""WITH a AS (SELECT lang, count(*) AS n_docs,
             |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_words,
             |    CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_sub,
             |    CAST(SUM(length(text)) AS BIGINT) AS n_chars
             |  FROM documents GROUP BY lang)
             |SELECT lang, n_docs, n_words, n_sub,
             |  round(n_sub / n_words, 6) AS fertility,
             |  round(n_chars / n_sub, 6) AS chars_per_sub
             |FROM a ORDER BY lang""".stripMargin)),

    // q158 — cross-source corpus overlap matrix: shingle-set Jaccard for
    // every source pair — the contamination/provenance diagnostic that
    // shows which scrape feeds duplicate each other (exact doc-level dup
    // across sources is zero here; shared 3-gram shingles still expose
    // template reuse). The self-join keys on the shingle hash at
    // source-grain DISTINCT sets, so a shingle shared by k sources emits
    // C(k,2) ≤ |sources|² pairs — bounded per key by the source count,
    // never corpus-sized; per-source set sizes broadcast (|sources| rows).
    QuerySpec("q158_source_overlap",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("source"), Text.tokens(lower(col("text"))).as("tk"))
        val sh = tok
          .select(col("source"), explode(Text.shinglesFromTokens(col("tk"), 3)).as("sh"))
          .select(col("source"), Text.hash32(col("sh")).as("h"))
          .distinct()
          .persistTracked()
        val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
        sh.select(col("source").as("src_a"), col("h"))
          .join(sh.select(col("source").as("src_b"), col("h")), "h")
          .filter(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
          .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
          .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
          .select(col("src_a"), col("src_b"), col("n_shared"),
            round(col("n_shared").cast("double") /
              (col("na") + col("nb") - col("n_shared")), 6).as("jaccard"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH toks AS (SELECT source, $duckTokens AS w FROM documents),
              |sh AS (SELECT DISTINCT source,
              |    CAST('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 8) AS BIGINT) AS h
              |  FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
              |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
              |p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
              |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
              |  GROUP BY a.source, b.source)
              |SELECT src_a, src_b, n_shared,
              |  round(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6) AS jaccard
              |FROM p JOIN sizes sa ON p.src_a = sa.source
              |       JOIN sizes sb ON p.src_b = sb.source
              |ORDER BY src_a, src_b""".stripMargin)),

    // q182 — sharded-export manifest with content checksums: the data
    // delivery op — when a prepared corpus ships to a training cluster,
    // each shard travels with (row count, byte count, content checksum)
    // so the consumer can verify integrity without re-reading the
    // producer's catalog. Shard assignment is the portable id hash (the
    // same deterministic routing an exporter would use to write the
    // files); the checksum is an XOR fold of per-document portable
    // hashes — commutative, associative, and overflow-free exact integer
    // arithmetic, so it is partition- and order-independent by
    // construction (any write parallelism yields the same manifest) at
    // ANY shard cardinality. One corpus pass, shard-grain rows out.
    QuerySpec("q182_export_manifest",
      (s, dir) => {
        val h = (c: org.apache.spark.sql.Column) =>
          call_function("graft_hash32", c)
        Tables.load(s, dir, "documents")
          .select((h(col("doc_id").cast("string")) % 8).as("shard"),
            col("n_chars"), h(col("text")).as("th"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            // XOR fold, not SUM: commutative/associative like a sum but
            // overflow-FREE — a long sum of 32-bit hashes wraps silently
            // in non-ANSI Spark while DuckDB widens to HUGEINT, so at
            // ~2^31 docs/shard the two engines would diverge. XOR is
            // closed over int64 in both.
            call_function("bit_xor", col("th")).as("content_checksum"))
          .orderBy("shard")
      },
      Some("""SELECT
             |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard,
             |  count(*) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |  BIT_XOR(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT))
             |    AS content_checksum
             |FROM documents
             |GROUP BY 1
             |ORDER BY shard""".stripMargin)),

    // q185 — token-budget corpus selection: the data-mixing op "take
    // the best documents until the token budget is spent" — rank by a
    // quality signal (q26's stopword ratio), then keep the prefix whose
    // cumulative token count fits the budget. The cumulative sum runs
    // through PrefixSum (range-partition two-phase), NOT a global
    // window: at 100 TB the ranking is the only total order in the
    // query and it must not serialize onto one reducer. Inclusion is a
    // prefix property of the (qual DESC, doc_id) order, so the result
    // is independent of partition boundaries by PrefixSum's contract.
    QuerySpec("q185_budget_select",
      (s, dir) => {
        val nTok = Text.tokenCount(col("text"))
        val nStop = Text.stopwordCount(col("text"))
        val base = Tables.load(s, dir, "documents")
          .select(col("doc_id"), nTok.as("n_tokens"),
            round(nStop.cast("double") / nTok, 4).as("qual"))
          // negated sort key: PrefixSum orders ascending on the tuple,
          // the selection wants quality DESCENDING. qual >= 0 always, so
          // no mixed ±0.0 ordering divergence.
          .withColumn("negq", -col("qual"))
        graft.ops.PrefixSum
          .cumsum(base, Seq("negq", "doc_id"), "n_tokens", "cum_tokens")
          .filter(col("cum_tokens") <= 20000)
          .select(col("doc_id"), col("qual"),
            col("n_tokens").cast("int").as("n_tokens"), col("cum_tokens"))
          .orderBy(desc("qual"), col("doc_id"))
      },
      Some(s"""WITH b AS (SELECT doc_id,
              |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
              |    round(CAST(len(list_filter($duckTokens, x -> x IN ($stopList))) AS DOUBLE)
              |      / len(string_split_regex(trim(text), '\\s+')), 4) AS qual
              |  FROM documents),
              |c AS (SELECT doc_id, qual, n_tokens,
              |    CAST(SUM(n_tokens) OVER (ORDER BY qual DESC, doc_id
              |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              |  FROM b)
              |SELECT doc_id, qual, n_tokens, cum_tokens FROM c
              |WHERE cum_tokens <= 20000
              |ORDER BY qual DESC, doc_id""".stripMargin)),

    // q192 — canonical-form (bag-of-words) dedup profile: the canonical
    // fingerprint lowercases, strips non-alphanumerics, collapses
    // whitespace, then SORTS the tokens — an order-insensitive bag
    // fingerprint that catches reordered/templated near-duplicates
    // (same content, shuffled sections) that q24's exact hash and even
    // shingle-based minhash score low. Per source: docs whose canonical
    // form differs from the raw text (normalization impact) and the
    // distinct canonical count (the post-dedup size a canonical-keyed
    // dedup would produce). Canonicalization is scan-local (per-row
    // sort of that row's tokens — no cross-row work); the aggregate is
    // keyed like exact dedup.
    QuerySpec("q192_canonical_dedup",
      (s, dir) => {
        val canon = concat_ws(" ", array_sort(split(trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "),
          " +", " ")), " ")))
        Tables.load(s, dir, "documents")
          .select(col("source"),
            call_function("graft_hash32", col("text")).as("raw_h"),
            call_function("graft_hash32", canon).as("canon_h"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("raw_h") =!= col("canon_h"), 1L).otherwise(0L))
              .as("n_normalized"),
            countDistinct(col("canon_h")).as("n_canon_distinct"))
          .orderBy("source")
      },
      Some("""WITH h AS (SELECT source,
             |    CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS raw_h,
             |    CAST('0x' || substr(md5(array_to_string(list_sort(
             |      string_split(trim(regexp_replace(regexp_replace(
             |        lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
             |      ' ')), ' ')), 1, 8) AS BIGINT) AS canon_h
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(SUM(CASE WHEN raw_h <> canon_h THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_normalized,
             |  count(DISTINCT canon_h) AS n_canon_distinct
             |FROM h GROUP BY source
             |ORDER BY source""".stripMargin)),

    // q195 — k-fold cross-validation statistics: deterministic 5-fold
    // assignment (portable content-id hash, stable under reordering
    // like q45's splits), then for each fold the statistics of its
    // TRAINING COMPLEMENT (all other folds) — computed as global sums
    // minus fold sums, ONE corpus pass + 5-row frame arithmetic,
    // instead of re-aggregating the corpus k times. Counts and char
    // sums are exact integers, so complement means are a single IEEE
    // division in both engines.
    QuerySpec("q195_kfold_stats",
      (s, dir) => {
        val folds = Tables.load(s, dir, "documents")
          .select((call_function("graft_hash32",
            col("doc_id").cast("string")) % 5).as("fold"), col("n_chars"))
          .groupBy("fold")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .persistTracked()
        val tot = folds.agg(sum(col("n_docs")).as("tn"),
          sum(col("sum_chars")).as("ts"))
        folds.crossJoin(broadcast(tot))
          .select(col("fold"), col("n_docs"),
            (col("tn") - col("n_docs")).as("train_docs"),
            round((col("ts") - col("sum_chars")).cast("double") /
              (col("tn") - col("n_docs")), 6).as("train_mean_chars"))
          .orderBy("fold")
      },
      Some("""WITH f AS (SELECT
             |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 5
             |      AS fold,
             |    count(*) AS n_docs,
             |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |  FROM documents GROUP BY 1),
             |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
             |    CAST(SUM(sum_chars) AS BIGINT) AS ts FROM f)
             |SELECT fold, n_docs,
             |  CAST(tn - n_docs AS BIGINT) AS train_docs,
             |  round(CAST(ts - sum_chars AS DOUBLE) / (tn - n_docs), 6)
             |    AS train_mean_chars
             |FROM f, t
             |ORDER BY fold""".stripMargin)),

    // q197 — set-similarity join via PREFIX FILTERING (the ppjoin
    // candidate principle — a different generation mechanism from every
    // LSH family here): order each doc's SHINGLES rarest-first by
    // global document frequency; any pair with Jaccard ≥ θ MUST share
    // an element inside its first n − ⌈θn⌉ + 1 elements, so only those
    // prefixes join. Rare-first ordering makes prefix buckets small by
    // construction (a ubiquitous shingle never lands in a prefix),
    // which is why this beats banding for high thresholds at scale.
    // Sets are 3-gram shingles, not unigram tokens — this corpus draws
    // from a small shared vocabulary, so token sets are non-
    // discriminative (θ=0.6 passes ~35% of ALL pairs) while shingle
    // sets isolate true near-dups. Candidates verify with exact
    // Jaccard (shingle-grain joins bounded by the candidate
    // population, not the corpus — q35's semi-join rule). θ = 0.8
    // (the standard near-dup bar; at θ=0.6 this corpus's small shared
    // vocabulary still yields ~300k candidates at sf0.1 — prefix
    // length scales with 1−θ, so the threshold IS the cost knob);
    // the ⌈4n/5⌉ arithmetic is the same integer expression in both
    // engines.
    QuerySpec("q197_prefix_filter_join",
      (s, dir) => {
        // Bind the token array BEFORE shingling: shinglesFromTokens
        // references its input once per element, and an unbound
        // tokens() expression re-tokenizes the row each time (the q57
        // lesson — measured 11 s → ~1 s for this scan at sf0.1).
        val t1 = Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk"))
          .select(col("doc_id"), explode(array_distinct(
            Text.shinglesFromTokens(col("tk")))).as("tok"))
          .persistTracked()
        val dfx = t1.groupBy("tok").agg(count(lit(1)).as("df"))
        val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
        // Set size rides the SAME doc_id window shuffle as the prefix
        // rank (one Exchange, two Window nodes): a doc-grain sizes
        // aggregate is corpus-proportional, so broadcasting it would
        // cap the engine at driver memory — the one shape that cannot
        // survive 100 TB. Carrying sz down through prefix/cand also
        // deletes the two doc-grain joins the final Jaccard used to do.
        val ranked = t1.join(dfx, "tok")
          .withColumn("rn", row_number().over(wDoc))
          .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
        val prefix = ranked
          .filter(col("rn") <= col("sz") - expr("(sz*4 + 4) DIV 5") + 1)
          .select(col("tok"), col("doc_id"), col("sz"), col("rn"))
          // referenced twice by the self-join: persist or the whole
          // df-join + window chain runs twice
          .persistTracked()
        val cand = prefix
          .join(prefix.select(col("tok"), col("doc_id").as("doc_b"),
            col("sz").as("nb"), col("rn").as("rnb")), "tok")
          .filter(col("doc_id") < col("doc_b"))
          // ppjoin LENGTH filter: J(a,b) ≤ min/max, so J ≥ 4/5 forces
          // 5·min ≥ 4·max — exact integer arithmetic (0.8·n in IEEE
          // rounds UP for n=5k and would wrongly prune exact-0.8
          // pairs). Prunes candidates before the shingle-grain
          // verification join, where each dropped pair saves |a|+|b|
          // probe rows.
          .filter(least(col("sz"), col("nb")) * 5 >=
            greatest(col("sz"), col("nb")) * 4)
          // ppjoin POSITIONAL filter: both docs rank their sets in the
          // SAME global (df, tok) order, so the pair's first common
          // element sits at some (rn, rnb) and every other common
          // element follows it in both ⇒ inter ≤ 1 + min(sz−rn, nb−rnb).
          // J ≥ 4/5 needs inter ≥ ⌈4(sz+nb)/9⌉, so any pair whose
          // FIRST-match bound misses 9·ubound ≥ 4(sz+nb) is impossible;
          // keeping a pair when ANY match passes is therefore exact
          // (the first common element is in both prefixes — that is the
          // prefix-filter completeness guarantee — and it carries the
          // largest bound). Cuts candidates ~170:1 → verification work.
          .filter((lit(1) + least(col("sz") - col("rn"),
            col("nb") - col("rnb"))) * 9 >= (col("sz") + col("nb")) * 4)
          .select(col("doc_id").as("doc_a"), col("doc_b"),
            col("sz").as("na"), col("nb"))
          .distinct()
          .persistTracked()
        val candIds = cand
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        val t1v = t1.join(candIds, Seq("doc_id"), "left_semi")
        val shared = cand
          .join(t1v.select(col("doc_id").as("doc_a"), col("tok")), "doc_a")
          .join(t1v.select(col("doc_id").as("doc_b"), col("tok")),
            Seq("doc_b", "tok"))
          // na/nb are functionally dependent on the pair key: grouping
          // by them costs nothing and saves the doc-grain size joins
          .groupBy("doc_a", "doc_b", "na", "nb")
          .agg(count(lit(1)).as("inter"))
        val jac = round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6)
        shared
          .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
          .filter(col("jaccard") >= 0.8)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS w
             |  FROM documents),
             |t1 AS (SELECT DISTINCT doc_id,
             |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tok
             |  FROM tk, UNNEST(generate_series(1, len(w) - 2)) t(i)),
             |dfx AS (SELECT tok, count(*) AS df FROM t1 GROUP BY tok),
             |ranked AS (SELECT t1.doc_id, t1.tok,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY df, tok) AS rn,
             |    count(*) OVER (PARTITION BY doc_id) AS n
             |  FROM t1 JOIN dfx USING (tok)),
             |prefix AS (SELECT doc_id, tok FROM ranked
             |  WHERE rn <= n - ((n*4 + 4) // 5) + 1),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM prefix a JOIN prefix b
             |    ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM t1 GROUP BY doc_id),
             |shared AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
             |  FROM cand c JOIN t1 x ON x.doc_id = c.doc_a
             |               JOIN t1 y ON y.doc_id = c.doc_b AND y.tok = x.tok
             |  GROUP BY c.doc_a, c.doc_b)
             |SELECT doc_a, doc_b,
             |  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6)
             |    AS jaccard
             |FROM shared
             |JOIN sizes sa ON doc_a = sa.doc_id
             |JOIN sizes sb ON doc_b = sb.doc_id
             |WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.8
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // q199 — REAL JPEG metadata extraction: closes the last stubbed
    // image codec (q30 BMP / q151 PNG precedent). The fixture encodes a
    // genuine JPEG per document through the JDK's own codec
    // (Multimodal.jpegBytes — javax.imageio, no external libs) and the
    // decode reads the SOF geometry through the JDK reader WITHOUT
    // paying the inverse DCT (header-only — the 100 TB shape for
    // media-metadata scans). Dims derive deterministically from the doc
    // (small — ≤63², the per-row encode cost is the fixture's, not the
    // decoder's); compressed byte length is codec-version-dependent and
    // deliberately NOT in the output. thumb dims reuse q63's fitThumb
    // arithmetic (here an identity: ≤63 never exceeds 256 — pinned by
    // the oracle all the same). Narrow transform, no shuffle before the
    // final sort.
    QuerySpec("q199_jpeg_meta",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val n = txt.getBytes("UTF-8").length
          // Long arithmetic before the mod: the q30 lesson — n*7 in Int
          // wraps negative past ~306 MB payloads and diverges from the
          // oracle's BIGINT math.
          val media = graft.functions.Multimodal.jpegBytes(
            (16 + n % 48), (16 + n.toLong * 7 % 48).toInt)
          // the decode reads ONLY the JPEG bytes, not the fixture vars
          graft.functions.Multimodal.decodeJpegDims(media).map {
            case (width, height) =>
              val (tw, th) = graft.functions.Multimodal.fitThumb(width, height)
              (id, width, height, tw, th)
          }
        }).toDF("doc_id", "width", "height", "thumb_w", "thumb_h")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             | CAST(16 + strlen(text) % 48 AS INTEGER) AS width,
             | CAST(16 + (strlen(text) * 7) % 48 AS INTEGER) AS height,
             | CAST(16 + strlen(text) % 48 AS INTEGER) AS thumb_w,
             | CAST(16 + (strlen(text) * 7) % 48 AS INTEGER) AS thumb_h
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q201 — PII redaction (the governance op every shipped training
    // corpus runs BEFORE export; k-anonymity q101 generalizes
    // quasi-identifiers, this removes direct identifiers): regex-redact
    // emails and phone numbers, report per-source counts plus a
    // RESIDUAL column that must be zero — the redaction audit is part
    // of the result, not a side assertion. The corpus is synthetic
    // words, so PII is INJECTED deterministically per doc (the q30/q199
    // fixture pattern: both engines build the same raw string) and the
    // redaction runs the same conservative regex subset (no lookaround,
    // no lazy quantifiers) that Java regex and RE2 interpret
    // identically. Scan-local per-row work, one source-grain shuffle —
    // the 100 TB shape.
    QuerySpec("q201_pii_redact",
      (s, dir) => {
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phoneRe = "\\+1-555-[0-9]{4}"
        val raw = concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")))
        val clean = regexp_replace(
          regexp_replace(raw, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), raw.as("raw"), clean.as("clean"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(regexp_count(col("raw"), lit(emailRe))).as("n_email"),
            sum(regexp_count(col("raw"), lit(phoneRe))).as("n_phone"),
            sum(length(col("raw")) - length(col("clean")))
              .as("chars_delta"),
            sum(regexp_count(col("clean"), lit(emailRe)) +
              regexp_count(col("clean"), lit(phoneRe))).as("n_residual"))
          .orderBy("source")
      },
      Some("""WITH r AS (SELECT doc_id, source, text
             |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
             |    || CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
             |    AS raw
             |  FROM documents),
             |c AS (SELECT source, raw,
             |    regexp_replace(regexp_replace(raw,
             |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |      '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS clean
             |  FROM r)
             |SELECT source, count(*) AS n_docs,
             |  CAST(SUM(len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))) AS BIGINT) AS n_email,
             |  CAST(SUM(len(regexp_extract_all(raw, '\+1-555-[0-9]{4}'))) AS BIGINT) AS n_phone,
             |  CAST(SUM(strlen(raw) - strlen(clean)) AS BIGINT) AS chars_delta,
             |  CAST(SUM(len(regexp_extract_all(clean, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
             |    + len(regexp_extract_all(clean, '\+1-555-[0-9]{4}'))) AS BIGINT) AS n_residual
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // q202 — duplicated-SPAN detection (Lee et al. '22, "Deduplicating
    // Training Data Makes Language Models Better" — EXACT-substring
    // dedup, a different op from every set-similarity family here: q24
    // hashes whole documents, q197/q29 compare shingle SETS; this finds
    // which token WINDOWS recur verbatim across documents, the signal
    // used to cut repeated boilerplate spans out of individual docs).
    // Every 10-token rolling window is hashed (portable hash over the
    // space-joined window — scan-local transform/slice HOFs, no
    // per-window string explosion survives past the hash); a window
    // present in ≥2 DISTINCT docs is a duplicated span (within-doc
    // repeats don't count — self-repetition is q107's op). Per-doc
    // output: window count, duplicated-window count, duplicated
    // fraction. Scale shape: one hash-grain aggregate (span-vocabulary
    // scale), one hash-keyed join back, one doc-grain aggregate — at
    // 100 TB the span vocabulary shards over the cluster; nothing is
    // broadcast or collected.
    QuerySpec("q202_dup_span",
      (s, dir) => {
        val W = 10
        val win = Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk"))
          // guard BEFORE sequence(): Spark's sequence(1, n) runs
          // DESCENDING for n < 1 instead of returning empty
          .filter(size(col("tk")) >= W)
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(1, size(tk) - ${W - 1}), " +
              s"i -> graft_hash32(concat_ws(' ', slice(tk, i, $W))))")).as("h"))
          .persistTracked()
        val spanDocs = win.groupBy("h")
          .agg(countDistinct(col("doc_id")).as("nd"))
        win.join(spanDocs, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
          .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
            round(col("n_dup_windows").cast("double") / col("n_windows"), 4)
              .as("dup_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS w
             |  FROM documents),
             |win AS (SELECT doc_id,
             |    CAST('0x' || substr(md5(array_to_string(w[i:i+9], ' ')), 1, 8) AS BIGINT) AS h
             |  FROM tk, UNNEST(generate_series(1, len(w) - 9)) t(i)
             |  WHERE len(w) >= 10),
             |nd AS (SELECT h, count(DISTINCT doc_id) AS nd FROM win GROUP BY h)
             |SELECT doc_id, count(*) AS n_windows,
             |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
             |  round(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_frac
             |FROM win JOIN nd USING (h)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // q204 — multi-source BFS hop distance over the near-dup graph:
    // "how many near-dup hops is each document from a seed set" — the
    // provenance/contamination-radius primitive (seed = known-bad or
    // known-benchmark docs; here a deterministic id rule so the oracle
    // can reproduce it). Distinct from q76's components (which forget
    // distance) and q131's PageRank (stationary mass, not hops).
    // Frontier rounds are candidate-scale shuffles with the same
    // lineage-truncation discipline as CC; depth is capped so cycles
    // terminate in BOTH engines (the recursive CTE's UNION dedups
    // (node, d) pairs, so without the d < cap guard a cycle would
    // generate unboundedly growing d forever).
    QuerySpec("q204_bfs_hops",
      (s, dir) => {
        val cand = candidatePairs(s, dir)
          .persistTracked()
        cand.count()
        val ns = graft.core.Tuned.session(s,
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.adaptive.enabled" -> "false")
        val edges = graft.core.Tuned.rehome(
          cand.select(col("doc_a").as("src"), col("doc_b").as("dst")), ns)
        val nodes = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct()
        val seeds = nodes.filter(col("node") % 5 === 0)
        graft.ops.Bfs.hops(edges, seeds, maxDepth = 6)
          .select(col("node").as("doc_id"), col("hops"))
          .orderBy("doc_id")
      },
      Some(s"""${duckMinhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
              |          UNION SELECT doc_b, doc_a FROM cand),
              |seeds AS (SELECT DISTINCT a AS node FROM edges WHERE a % 5 = 0),
              |walk AS (SELECT node, 0 AS d FROM seeds
              |         UNION
              |         SELECT e.b AS node, w.d + 1 AS d
              |         FROM walk w JOIN edges e ON w.node = e.a WHERE w.d < 6)
              |SELECT node AS doc_id, CAST(min(d) AS INTEGER) AS hops
              |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin)),

    // q363 — 2-CORE of the near-dup graph (ops.KCore: peel nodes of
    // degree < k until fixpoint): documents that survive are in
    // MUTUALLY-similar neighborhoods — template farms — while chains
    // and stars of incidental matches peel away. Sharper than q76's
    // components (which keep every chain) and cheaper than q142's
    // triangles. The oracle carries the peel as a RECURSIVE CTE that
    // recomputes both endpoint degrees over the surviving edge set
    // each iteration; rounds converge well inside the 12-iteration
    // cap at every SF (checked 8 vs 24 identical), after which rows
    // copy forward unchanged, so `it = 12` is the fixpoint.
    QuerySpec("q363_near_dup_kcore",
      (s, dir) => {
        val cand = candidatePairs(s, dir)
          .persistTracked()
        cand.count()
        val ns = graft.core.Tuned.session(s,
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.adaptive.enabled" -> "false")
        val edges = graft.core.Tuned.rehome(
          cand.select(col("doc_a").as("src"), col("doc_b").as("dst")), ns)
        graft.ops.KCore.core(edges, k = 2)
          .groupBy(col("src").as("doc_id"))
          .agg(count(lit(1)).cast("int").as("core_degree"))
          .orderBy("doc_id")
      },
      Some(s"""${duckMinhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
              |          UNION SELECT doc_b, doc_a FROM cand),
              |peel(a, b, it) AS (
              |  SELECT a, b, 0 FROM edges
              |  UNION ALL
              |  SELECT a, b, it + 1 FROM (
              |    SELECT a, b, it,
              |      count(*) OVER (PARTITION BY a) AS da,
              |      count(*) OVER (PARTITION BY b) AS db
              |    FROM peel) WHERE it < 12 AND da >= 2 AND db >= 2)
              |SELECT a AS doc_id, CAST(count(*) AS INTEGER) AS core_degree
              |FROM peel WHERE it = 12 GROUP BY a ORDER BY doc_id""".stripMargin)),

    // q255 — WEIGHTED contamination radius: bounded Bellman-Ford
    // (ops.Bfs.cheapestWithin) over the near-dup graph with
    // hash-derived integer edge weights (symmetric — the weight hashes
    // the UNORDERED pair) — the cost-aware extension of q204's hop
    // counts, where edges are not equally suspicious (a weight models
    // similarity distance or review cost). Semantics: minimum total
    // weight over paths of ≤ 6 edges from the seed set — exactly the
    // ≤6-hop walk enumeration the recursive-CTE oracle performs, and
    // exact integer arithmetic end to end. Fixed relaxation rounds =
    // fixed plan depth; each round one candidate-scale shuffle + a
    // min-aggregate under the CC checkpoint discipline.
    QuerySpec("q255_weighted_radius",
      (s, dir) => {
        val cand = candidatePairs(s, dir)
          .persistTracked()
        cand.count()
        val ns = graft.core.Tuned.session(s,
          "spark.sql.shuffle.partitions" -> "4",
          "spark.sql.adaptive.enabled" -> "false")
        val w = lit(1L) + call_function("graft_hash32",
          concat(least(col("doc_a"), col("doc_b")).cast("string"), lit(":"),
            greatest(col("doc_a"), col("doc_b")).cast("string"))) % 5
        val edges = graft.core.Tuned.rehome(
          cand.select(col("doc_a").as("src"), col("doc_b").as("dst"),
            w.as("w")), ns)
        val nodes = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node"))).distinct()
        val seeds = nodes.filter(col("node") % 5 === 0)
        graft.core.Tuned.rehome(
          graft.ops.Bfs.cheapestWithin(edges, seeds, maxHops = 6), s)
          .select(col("node").as("doc_id"), col("cost"))
          .orderBy("doc_id")
      },
      Some(s"""${duckMinhashCtes.replaceFirst("^WITH ", "WITH RECURSIVE ")},
              |ew AS (SELECT doc_a AS a, doc_b AS b,
              |    1 + CAST('0x'||substr(md5(CAST(least(doc_a, doc_b) AS VARCHAR)||':'||CAST(greatest(doc_a, doc_b) AS VARCHAR)),1,8) AS BIGINT) % 5 AS w
              |  FROM cand),
              |edges AS (SELECT a, b, w FROM ew UNION SELECT b, a, w FROM ew),
              |seeds AS (SELECT DISTINCT a AS node FROM edges WHERE a % 5 = 0),
              |walk AS (SELECT node, CAST(0 AS BIGINT) AS c, 0 AS d FROM seeds
              |         UNION
              |         SELECT e.b AS node, w.c + e.w AS c, w.d + 1 AS d
              |         FROM walk w JOIN edges e ON w.node = e.a WHERE w.d < 6)
              |SELECT node AS doc_id, CAST(min(c) AS BIGINT) AS cost
              |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin)),

    // q205 — winnowing fingerprints (Schleimer/Wilkerson/Aiken '03, the
    // MOSS algorithm): per doc, hash every K-token shingle, then keep
    // the MIN hash of each W-consecutive-shingle window — guarantees any
    // shared run of ≥ W+K-1 tokens yields a shared fingerprint, at ~1/W
    // the fingerprint density of q202's every-window scheme. Docs
    // sharing ≥ 2 fingerprints are overlap candidates. Scale shape: the
    // window min is doc-partitioned (parallel across docs); pair
    // generation is bucket-local on the fingerprint (same HOF form as
    // the LSH families — fingerprint buckets are content-addressed, so
    // bucket size is bounded by true duplication, not corpus size).
    // Window-min ROWS frames are position-contiguous in both engines;
    // only FULL windows are kept (pos ≤ n_shingles − W + 1), the
    // classic definition.
    QuerySpec("q205_winnow_pairs",
      (s, dir) => {
        val K = 5; val W = 4
        val sh = Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk"))
          .filter(size(col("tk")) >= K + W - 1)
          .select(col("doc_id"), size(col("tk")).as("n"),
            explode(expr(
              s"transform(sequence(1, size(tk) - ${K - 1}), " +
                s"i -> struct(i AS pos, graft_hash32(concat_ws(' ', slice(tk, i, $K))) AS h))")).as("s"))
          .select(col("doc_id"), col("n"), col("s.pos"), col("s.h"))
        val wMin = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.currentRow, W - 1)
        val fp = sh
          .withColumn("fp", min(col("h")).over(wMin))
          .filter(col("pos") <= col("n") - lit(K - 1) - lit(W - 1))
          .select(col("doc_id"), col("fp")).distinct()
        fp.groupBy("fp")
          .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
          .filter(size(col("ids")) > 1)
          .select(explode(expr(
            "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b))))"
          )).as("p"))
          .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS w
             |  FROM documents),
             |sh AS (SELECT doc_id, len(w) AS n, i AS pos,
             |    CAST('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 8) AS BIGINT) AS h
             |  FROM tk, UNNEST(generate_series(1, len(w) - 4)) t(i)
             |  WHERE len(w) >= 8),
             |fp AS (SELECT DISTINCT doc_id, fp FROM (
             |  SELECT doc_id, pos, n,
             |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
             |  FROM sh) WHERE pos <= n - 4 - 3),
             |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
             |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, n_shared FROM pairs
             |WHERE n_shared >= 2 ORDER BY doc_a, doc_b""".stripMargin)),

    // q206 — LM-perplexity quality filter (the CCNet/Wenzek '20 shape:
    // score each doc by average negative log-likelihood under a corpus
    // language model, bucket into head/middle/tail). Model here is the
    // corpus's own add-one-smoothed unigram LM — the 100 TB plan shape
    // is what matters: term-grain LM fit (vocab-scale aggregate, never
    // corpus-scale), per-term scores joined back term-keyed, one
    // doc-grain aggregate. Numeric parity: ln() is engine-1-ulp —
    // round(6) per TERM, cast to DECIMAL so the per-doc sum is exact
    // integer arithmetic in both engines (q112 lesson); the final
    // avg = CAST(decimal AS DOUBLE)/count is ONE IEEE division
    // (q164 avg-parity rule), so the bucket comparison cannot flip.
    QuerySpec("q206_perplexity_filter",
      (s, dir) => {
        val tf = Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .persistTracked()
        val vocab = tf.groupBy("term").agg(sum(col("tf")).as("cnt"))
        val tot = vocab.agg(sum(col("cnt")).as("total"),
          count(lit(1)).as("v"))
        val nll = vocab.crossJoin(broadcast(tot))
          .select(col("term"),
            round(-log((col("cnt") + lit(1.0)) / (col("total") + col("v"))), 6)
              .cast("decimal(18,6)").as("nll"))
        tf.join(nll, "term")
          .groupBy("doc_id")
          .agg(sum(col("tf")).as("n_tokens"),
            sum(col("tf").cast("decimal(18,0)") * col("nll")).as("s"))
          .select(col("doc_id"), col("n_tokens"),
            (col("s").cast("double") / col("n_tokens")).as("avg_nll"))
          .withColumn("bucket",
            when(col("avg_nll") < 3.40, "head")
              .when(col("avg_nll") < 3.45, "middle")
              .otherwise("tail"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
             |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, count(*) AS v FROM vocab),
             |nll AS (SELECT term,
             |    CAST(round(-ln((cnt + 1.0) / (total + v)), 6) AS DECIMAL(18,6)) AS nll
             |  FROM vocab, tot),
             |d AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
             |    SUM(CAST(tf AS DECIMAL(18,0)) * nll) AS s
             |  FROM tf JOIN nll USING (term) GROUP BY doc_id)
             |SELECT doc_id, n_tokens,
             |  CAST(s AS DOUBLE) / n_tokens AS avg_nll,
             |  CASE WHEN CAST(s AS DOUBLE) / n_tokens < 3.40 THEN 'head'
             |       WHEN CAST(s AS DOUBLE) / n_tokens < 3.45 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM d ORDER BY doc_id""".stripMargin)),

    // q210 — RAG chunking: split every document into overlapping
    // fixed-size token windows (size 64, stride 48 → 16-token overlap)
    // with positional metadata and a content address per chunk — the
    // retrieval-corpus build step. Purely scan-local (one HOF over the
    // bound token array, no shuffle until the final sort); at 100 TB
    // this is embarrassingly parallel and the chunk table partitions by
    // whatever the sink needs. Tail chunks keep their natural (short)
    // length; chunk_idx is derived arithmetically from the start so
    // both engines agree without positional explode semantics.
    QuerySpec("q210_rag_chunks",
      (s, dir) => {
        val C = 64; val S = 48
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk"))
          .select(col("doc_id"), explode(expr(
            s"transform(sequence(1, size(tk), $S), st -> struct(" +
              s"st AS start_tok, " +
              s"size(slice(tk, st, $C)) AS n_chunk_tokens, " +
              s"graft_hash32(concat_ws(' ', slice(tk, st, $C))) AS chunk_hash))")).as("c"))
          .select(col("doc_id"),
            (((col("c.start_tok") - 1) / S).cast("int") + 1).as("chunk_idx"),
            col("c.start_tok"), col("c.n_chunk_tokens"), col("c.chunk_hash"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""WITH tk AS (SELECT doc_id,
             |    string_split_regex(trim(lower(text)), '\s+') AS w
             |  FROM documents),
             |c AS (SELECT doc_id,
             |    CAST((st - 1) // 48 + 1 AS INTEGER) AS chunk_idx,
             |    CAST(st AS INTEGER) AS start_tok,
             |    CAST(len(w[st:st+63]) AS INTEGER) AS n_chunk_tokens,
             |    CAST('0x' || substr(md5(array_to_string(w[st:st+63], ' ')), 1, 8) AS BIGINT) AS chunk_hash
             |  FROM tk, UNNEST(generate_series(1, len(w), 48)) t(st))
             |SELECT doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_hash
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // q211 — classifier calibration audit (reliability diagram / ECE
    // terms): bucket q117's quality probability into 10 confidence
    // bins, compare mean confidence against the empirical rate of a
    // reference label per bin — the eval every production quality
    // filter needs before its threshold is trusted. One corpus pass →
    // 10-row aggregate. Parity: p is already round(6), so the per-bin
    // sum is exact in DECIMAL(18,6); avg_conf/acc are single IEEE
    // divisions (q164 rule); the gap rounds the difference.
    QuerySpec("q211_calibration_bins",
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .select(qualityP.as("p"),
            col("lang").isin("en", "de").cast("int").as("y"))
        scored
          .select(least(floor(col("p") * 10).cast("int"), lit(9)).as("bin"),
            col("p"), col("y"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            sum(col("p").cast("decimal(18,6)")).as("sp"),
            sum(col("y")).as("sy"))
          .select(col("bin"), col("n"),
            (col("sp").cast("double") / col("n")).as("avg_conf"),
            (col("sy").cast("double") / col("n")).as("acc"))
          .withColumn("gap", round(abs(col("avg_conf") - col("acc")), 6))
          .orderBy("bin")
      },
      Some(s"""WITH s AS (SELECT $duckQualityP AS p,
              |    CASE WHEN lang IN ('en', 'de') THEN 1 ELSE 0 END AS y
              |  FROM documents),
              |a AS (SELECT CAST(least(floor(p * 10), 9) AS INTEGER) AS bin,
              |    count(*) AS n,
              |    SUM(CAST(p AS DECIMAL(18,6))) AS sp,
              |    CAST(SUM(y) AS BIGINT) AS sy
              |  FROM s GROUP BY 1)
              |SELECT bin, n,
              |  CAST(sp AS DOUBLE) / n AS avg_conf,
              |  CAST(sy AS DOUBLE) / n AS acc,
              |  round(abs(CAST(sp AS DOUBLE) / n - CAST(sy AS DOUBLE) / n), 6) AS gap
              |FROM a ORDER BY bin""".stripMargin)),

    // q213 — sketch-accuracy audit: MinHash-ESTIMATED similarity
    // (matching signature components / k) vs EXACT shingle-set Jaccard
    // for every LSH candidate pair — the eval that justifies (or
    // indicts) the q29 sketch parameters before a 100 TB dedup run
    // trusts them. Signature table is persisted at its branch point
    // (probed from both pair sides); the exact sets are computed only
    // for candidate docs (q35's semi-join discipline). Both
    // similarities are 4-rounded before the comparison column.
    QuerySpec("q213_minhash_calibration",
      (s, dir) => {
        val k = Text.minhashParams.size
        val docs = Tables.load(s, dir, "documents")
        val sig = minhashSig(docs).persistTracked()
        val cand = candidatesFromSig(sig).persistTracked()
        val sa = sig.select(col("doc_id").as("doc_a") +:
          (0 until k).map(i => col(s"m$i").as(s"a$i")): _*)
        val sb = sig.select(col("doc_id").as("doc_b") +:
          (0 until k).map(i => col(s"m$i").as(s"b$i")): _*)
        val matches = (0 until k)
          .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
          .reduce(_ + _)
        val candIds = cand
          .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
          .distinct()
        val sets = docs.join(candIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("tk"))
          .select(col("doc_id"), explode(Text.shinglesFromTokens(col("tk"))).as("sh"))
          .groupBy("doc_id").agg(collect_set(col("sh")).as("shs"))
        cand
          .join(sa, "doc_a").join(sb, "doc_b")
          .select(col("doc_a"), col("doc_b"),
            round(matches.cast("double") / k, 4).as("est_sim"))
          .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("s_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("s_b")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("est_sim"),
            round(size(array_intersect(col("s_a"), col("s_b"))).cast("double") /
              size(array_union(col("s_a"), col("s_b"))), 4).as("jaccard"))
          .withColumn("abs_err", round(abs(col("est_sim") - col("jaccard")), 4))
          .orderBy("doc_a", "doc_b")
      },
      Some {
        val k = Text.minhashParams.size
        val matchSum = (0 until k)
          .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""$duckMinhashCtes,
           |sets AS (SELECT doc_id, list(DISTINCT sh) AS shs FROM ex GROUP BY doc_id),
           |est AS (SELECT c.doc_a, c.doc_b,
           |    round(CAST(($matchSum) AS DOUBLE) / $k, 4) AS est_sim
           |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a
           |              JOIN sig b ON b.doc_id = c.doc_b),
           |j AS (SELECT c.doc_a, c.doc_b,
           |    round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
           |      / len(list_distinct(a.shs || b.shs)), 4) AS jaccard
           |  FROM cand c JOIN sets a ON a.doc_id = c.doc_a
           |              JOIN sets b ON b.doc_id = c.doc_b)
           |SELECT e.doc_a, e.doc_b, e.est_sim, j.jaccard,
           |  round(abs(e.est_sim - j.jaccard), 4) AS abs_err
           |FROM est e JOIN j ON e.doc_a = j.doc_a AND e.doc_b = j.doc_b
           |ORDER BY e.doc_a, e.doc_b""".stripMargin
      }),

    // q259 — MP3 metadata via a REAL frame-header walk: closes the last
    // audio gap the "no pure-JDK decoder" rationale never covered —
    // bitrate, sample rate, channel mode, frame count and duration are
    // HEADER fields (the exact analog of q120's RIFF chunk walk), only
    // the samples need a codec. Fixture: a genuine MPEG-1 Layer III
    // stream per doc (Multimodal.mp3Bytes — ID3v2.3 tag with syncsafe
    // size + id-derived bitrate/rate/mode and text-derived frame
    // count); decode hops frame to frame by the 144000·kbps/rate
    // arithmetic, validating every sync word. The oracle reconstructs
    // the same all-integer arithmetic with CASE tables GENERATED from
    // Multimodal's bitrate/rate constants (NOTES rule 7 — one source of
    // truth). Narrow per-row transform, the 100 TB media-metadata shape.
    QuerySpec("q259_mp3_meta",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val n = txt.getBytes("UTF-8").length
          val media = graft.functions.Multimodal.mp3Bytes(
            bitrateIdx = (1 + id % 14).toInt, rateIdx = (id % 3).toInt,
            mono = id % 2 == 0, nFrames = 1 + n % 9, id3Payload = n % 17)
          // the decode reads ONLY the MP3 bytes, not the fixture vars
          graft.functions.Multimodal.decodeMp3Meta(media).map {
            case (br, rate, ch, nf, durMs) =>
              (id, media.length, br, rate, ch, nf, durMs)
          }
        }).toDF("doc_id", "n_bytes", "bitrate_kbps", "sample_rate",
            "channels", "n_frames", "duration_ms")
          .orderBy("doc_id")
      },
      Some {
        val brCase = (0 until 14).map(i =>
          s"WHEN $i THEN ${graft.functions.Multimodal.Mp3Bitrates(i + 1)}")
          .mkString("CASE doc_id % 14 ", " ", " END")
        val rateCase = (0 to 2).map(i =>
          s"WHEN $i THEN ${graft.functions.Multimodal.Mp3Rates(i)}")
          .mkString("CASE doc_id % 3 ", " ", " END")
        s"""WITH p AS (SELECT doc_id,
           |    $brCase AS br,
           |    $rateCase AS rate,
           |    CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS channels,
           |    1 + strlen(text) % 9 AS n_frames,
           |    strlen(text) % 17 AS id3
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(10 + id3 + n_frames * (144000 * br // rate) AS INTEGER) AS n_bytes,
           |  CAST(br AS INTEGER) AS bitrate_kbps,
           |  CAST(rate AS INTEGER) AS sample_rate,
           |  channels,
           |  CAST(n_frames AS BIGINT) AS n_frames,
           |  CAST(n_frames * 1152 * 1000 // rate AS BIGINT) AS duration_ms
           |FROM p ORDER BY doc_id""".stripMargin
      }),

    // q263 — H.264 stream structure via a REAL Annex-B NAL-unit walk,
    // the video analog of q259's MP3 frame walk (and the last item of
    // the multimodal mandate the "no pure-JDK decoder" rationale never
    // covered): keyframe density and parameter-set sanity are FRAMING
    // properties — 3-/4-byte start codes, NAL header type bits — that
    // a curation pass reads without any codec. Fixture: a genuine
    // Annex-B stream per doc (Multimodal.h264Bytes: SPS/PPS, id-derived
    // GOP count, text-derived slice geometry; both start-code forms,
    // as real encoders emit). The oracle reconstructs the all-integer
    // stream arithmetic from the same derivations. Narrow per-row
    // transform, the 100 TB media-metadata shape.
    QuerySpec("q263_h264_nals",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val n = txt.getBytes("UTF-8").length
          val media = graft.functions.Multimodal.h264Bytes(
            nGops = (1 + id % 3).toInt, pPerGop = 1 + n % 4,
            spsLen = 8 + n % 5, ppsLen = (4 + id % 3).toInt,
            idrLen = 40 + n % 20, pLen = 16 + n % 10)
          // the walk reads ONLY the stream bytes, not the fixture vars
          graft.functions.Multimodal.decodeH264Nals(media).map {
            case (sps, pps, idr, non, other) =>
              (id, sps + pps + idr + non + other, idr, non, media.length)
          }
        }).toDF("doc_id", "n_nals", "n_keyframes", "n_pslices",
            "stream_bytes")
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    1 + doc_id % 3 AS g,
             |    1 + strlen(text) % 4 AS pp,
             |    8 + strlen(text) % 5 AS sps,
             |    4 + doc_id % 3 AS pps,
             |    40 + strlen(text) % 20 AS idr,
             |    16 + strlen(text) % 10 AS pl
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(2 + g + g * pp AS INTEGER) AS n_nals,
             |  CAST(g AS INTEGER) AS n_keyframes,
             |  CAST(g * pp AS INTEGER) AS n_pslices,
             |  CAST((4 + sps) + (4 + pps) + g * (4 + idr) + g * pp * (3 + pl)
             |    AS INTEGER) AS stream_bytes
             |FROM p ORDER BY doc_id""".stripMargin)),

    // q272 — MP4 (ISO-BMFF) CONTAINER walk: q263 walks the elementary
    // video stream; this walks the file format that wraps it — the
    // nested [u32 size][4cc] box tree (ftyp/moov/trak/mdia…) that every
    // curation pass reads for track inventory, timescale and duration
    // before any codec is involved. Fixture: a genuine box tree per doc
    // (Multimodal.mp4Bytes — spec-shaped version-0 mvhd/tkhd/mdhd/hdlr,
    // id-derived timescale + audio presence, text-derived duration and
    // mdat payload); decodeMp4Boxes RECURSES through the container
    // types and reads mvhd/hdlr fields at their v0 offsets. The oracle
    // reconstructs the all-integer box-size arithmetic. Narrow per-row
    // transform, the 100 TB media-metadata shape.
    QuerySpec("q272_mp4_boxes",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val body = txt.getBytes("UTF-8")
          val n = body.length
          val media = graft.functions.Multimodal.mp4Bytes(
            timescale = Array(600, 1000, 90000)((id % 3).toInt),
            duration = 100 + n * 13, withAudio = id % 2 == 1,
            hdlrName = n % 7, payload = body)
          // the walk reads ONLY the container bytes, not the fixture vars
          graft.functions.Multimodal.decodeMp4Boxes(media).map {
            case (nb, ts, dur, nt, audio, mdat) =>
              (id, media.length, nb, ts, dur, dur * 1000L / ts, nt, audio,
                mdat)
          }
        }).toDF("doc_id", "file_bytes", "n_boxes", "timescale", "duration",
            "duration_ms", "n_tracks", "has_audio", "mdat_bytes")
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id,
             |    CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000 ELSE 90000 END AS ts,
             |    100 + strlen(text) * 13 AS dur,
             |    CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 1 END AS nt,
             |    strlen(text) % 7 AS h,
             |    strlen(text) AS n
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(140 + nt * (173 + h) + n AS INTEGER) AS file_bytes,
             |  CAST(4 + 5 * nt AS INTEGER) AS n_boxes,
             |  CAST(ts AS INTEGER) AS timescale,
             |  CAST(dur AS BIGINT) AS duration,
             |  CAST(dur * 1000 // ts AS BIGINT) AS duration_ms,
             |  CAST(nt AS INTEGER) AS n_tracks,
             |  doc_id % 2 = 1 AS has_audio,
             |  CAST(n AS BIGINT) AS mdat_bytes
             |FROM p ORDER BY doc_id""".stripMargin)),

    // q285 — TIFF/EXIF IFD walk in BOTH byte orders: the remaining
    // image-metadata primitive (BMP/PNG/JPEG read dimensions; this
    // reads the TAGGED structure camera files actually carry — IFD
    // entry chains, out-of-line ASCII values, the EXIF sub-IFD
    // pointer). Half the fixtures are big-endian ("MM") and half
    // little ("II"), so the walk's byte-order handling — including the
    // left-justified SHORT value field, the classic naive-reader bug —
    // is exercised on every row. Fixture geometry is id/text-derived;
    // the oracle reconstructs the same arithmetic. Narrow per-row
    // transform, the 100 TB media-metadata shape.
    QuerySpec("q285_tiff_exif",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val n = txt.getBytes("UTF-8").length
          val media = graft.functions.Multimodal.tiffBytes(
            bigEndian = id % 2 == 1, width = 64 + n % 200,
            height = (48 + id % 100).toInt,
            iso = Array(100, 200, 400, 800)((id % 4).toInt),
            makeLen = (5 + id % 6).toInt)
          // the walk reads ONLY the TIFF bytes, not the fixture vars
          graft.functions.Multimodal.decodeTiff(media).map {
            case (big, w, hgt, iso, n0, ne, ml) =>
              (id, media.length, big, w, hgt, iso, n0, ne, ml)
          }
        }).toDF("doc_id", "file_bytes", "big_endian", "width", "height",
            "iso", "n_ifd0", "n_exif", "make_len")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(93 + 5 + doc_id % 6 AS INTEGER) AS file_bytes,
             |  doc_id % 2 = 1 AS big_endian,
             |  CAST(64 + strlen(text) % 200 AS INTEGER) AS width,
             |  CAST(48 + doc_id % 100 AS INTEGER) AS height,
             |  CAST(CASE doc_id % 4 WHEN 0 THEN 100 WHEN 1 THEN 200
             |    WHEN 2 THEN 400 ELSE 800 END AS INTEGER) AS iso,
             |  CAST(5 AS INTEGER) AS n_ifd0,
             |  CAST(1 AS INTEGER) AS n_exif,
             |  CAST(5 + doc_id % 6 AS INTEGER) AS make_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // q306 — CROSS-SOURCE near-dup matrix: the q29 LSH candidate pairs
    // attributed to their SOURCE pair — the contamination panel that
    // tells a corpus owner which feeds are re-crawling each other
    // (within-source duplication is normal churn; cross-source pairs
    // mean shared upstream or scraping). Pair space is already
    // LSH-bounded; two broadcast-sized source lookups and a pair-grain
    // aggregate finish it. Source pair normalized (least, greatest) so
    // each relationship counts once.
    QuerySpec("q306_cross_source_dups",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val src = docs.select(col("doc_id"), col("source"))
        candidatePairs(s, dir)
          .join(src.select(col("doc_id").as("doc_a"),
            col("source").as("src_a")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"),
            col("source").as("src_b")), "doc_b")
          .select(least(col("src_a"), col("src_b")).as("source_a"),
            greatest(col("src_a"), col("src_b")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""$duckMinhashCtes,
              |att AS (SELECT least(da.source, db.source) AS source_a,
              |    greatest(da.source, db.source) AS source_b
              |  FROM cand
              |  JOIN documents da ON cand.doc_a = da.doc_id
              |  JOIN documents db ON cand.doc_b = db.doc_id)
              |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
              |FROM att GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin)),

    // q295 — GIF89a BLOCK walk: the animated-image container (the last
    // common image format after BMP/PNG/JPEG/TIFF): logical screen
    // descriptor with a packed global-color-table size, then the block
    // stream — graphic-control extensions (frame delays), image
    // descriptors, LZW data sub-block chains, 0x3B trailer. Frame
    // count, duration and payload size are FRAMING facts a curation
    // pass reads with no LZW decode. Fixture: genuine block structure
    // per doc (Multimodal.gifBytes, id/text-derived geometry with
    // multiple frames); the oracle reconstructs the per-frame sums
    // with a generate_series unnest. Narrow per-row transform.
    QuerySpec("q295_gif_frames",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val n = txt.getBytes("UTF-8").length
          val nf = 1 + n % 4
          val media = graft.functions.Multimodal.gifBytes(
            width = (32 + id % 64).toInt, height = 24 + n % 48,
            gctBits = (1 + id % 3).toInt,
            frames = (0 until nf).map(i =>
              ((5 + (id + i) % 10).toInt, 20 + (n + i) % 50)))
          // the walk reads ONLY the GIF bytes, not the fixture vars
          graft.functions.Multimodal.decodeGif(media).map {
            case (w, h, gct, fr, delay, data) =>
              (id, media.length, w, h, gct, fr, delay, data)
          }
        }).toDF("doc_id", "file_bytes", "width", "height", "gct_entries",
            "n_frames", "total_delay_cs", "data_bytes")
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, strlen(text) AS n,
             |    1 + strlen(text) % 4 AS f, 1 + doc_id % 3 AS g,
             |    32 + doc_id % 64 AS w, 24 + strlen(text) % 48 AS h
             |  FROM documents),
             |fr AS (SELECT p.doc_id,
             |    CAST(SUM(5 + (p.doc_id + i) % 10) AS BIGINT) AS delay,
             |    CAST(SUM(20 + (p.n + i) % 50) AS BIGINT) AS data,
             |    CAST(count(*) AS INTEGER) AS nf
             |  FROM p, UNNEST(generate_series(0, p.f - 1)) t(i)
             |  GROUP BY p.doc_id)
             |SELECT p.doc_id,
             |  CAST(14 + 3 * (1 << g) + 21 * fr.nf + fr.data AS INTEGER) AS file_bytes,
             |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
             |  CAST((1 << g) AS INTEGER) AS gct_entries,
             |  CAST(fr.nf AS INTEGER) AS n_frames,
             |  fr.delay AS total_delay_cs,
             |  fr.data AS data_bytes
             |FROM p JOIN fr ON p.doc_id = fr.doc_id
             |ORDER BY p.doc_id""".stripMargin)),

    // q279 — FLAC STREAMINFO walk: the one genuinely BIT-granular
    // header in the audio set — sample rate (20 bits), channels-1 (3),
    // bits-per-sample-1 (5) and total samples (36) packed into one
    // 64-bit big-endian field, preceded by the [last|type][u24 length]
    // metadata-block chain. Fixture: a genuine FLAC header per doc
    // (magic + STREAMINFO + last-flagged PADDING, id-derived
    // rate/channels/bps, text-derived sample count and pad length); the
    // decode validates magic, walks the chain, and unpacks the bit
    // field. Rate table shared with the oracle via Multimodal.FlacRates
    // (NOTES rule 7). Narrow per-row transform.
    QuerySpec("q279_flac_meta",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val n = txt.getBytes("UTF-8").length
          val media = graft.functions.Multimodal.flacBytes(
            sampleRate = graft.functions.Multimodal.FlacRates((id % 4).toInt),
            channels = (1 + id % 2).toInt,
            bps = if (id % 3 == 0) 24 else 16,
            totalSamples = 1000L + n * 31L, padLen = n % 33)
          // the walk reads ONLY the FLAC bytes, not the fixture vars
          graft.functions.Multimodal.decodeFlac(media).map {
            case (rate, ch, bps, total, nb, pad) =>
              (id, media.length, rate, ch, bps, total,
                total * 1000L / rate, nb, pad)
          }
        }).toDF("doc_id", "file_bytes", "sample_rate", "channels", "bps",
            "total_samples", "duration_ms", "n_blocks", "pad_bytes")
          .orderBy("doc_id")
      },
      Some {
        val rateCase = (0 to 3).map(i =>
          s"WHEN $i THEN ${graft.functions.Multimodal.FlacRates(i)}")
          .mkString("CASE doc_id % 4 ", " ", " END")
        s"""WITH p AS (SELECT doc_id,
           |    $rateCase AS rate,
           |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
           |    CAST(CASE WHEN doc_id % 3 = 0 THEN 24 ELSE 16 END AS INTEGER) AS bps,
           |    1000 + strlen(text) * 31 AS total,
           |    strlen(text) % 33 AS pad
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(46 + pad AS INTEGER) AS file_bytes,
           |  CAST(rate AS INTEGER) AS sample_rate,
           |  ch AS channels, bps,
           |  CAST(total AS BIGINT) AS total_samples,
           |  CAST(total * 1000 // rate AS BIGINT) AS duration_ms,
           |  CAST(2 AS INTEGER) AS n_blocks,
           |  CAST(pad AS BIGINT) AS pad_bytes
           |FROM p ORDER BY doc_id""".stripMargin
      }),

    // q317 — KNESER-NEY continuation counts: the KN smoothing insight
    // is that a word's unigram backoff weight should be how many
    // DISTINCT left contexts it completes (continuation count), not its
    // raw frequency — "francisco" is frequent but only ever follows
    // "san", so it should get almost no backoff mass. This computes the
    // continuation table the q148 interpolated LM would upgrade to:
    // per word, distinct-left-context count, raw bigram count, and
    // p_continuation = cont/Σcont (one IEEE division of exact longs).
    // Bigrams are scan-local (same HOF as q148 — no positional
    // self-join); the distinct-context aggregate is vocab-grain.
    // Top-20 by (cont DESC, w) — a total order, so LIMIT is stable.
    QuerySpec("q317_kn_continuation",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"), Text.tokens(lower(col("text"))).as("ts"))
        val big = tok.filter(size(col("ts")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(ts) - 1),
              |  i -> struct(element_at(ts, i) AS w1,
              |              element_at(ts, i + 1) AS w2))""".stripMargin)).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val cont = big.groupBy("w2")
          .agg(countDistinct(col("w1")).as("cont"),
            count(lit(1)).as("c2"))
          .withColumnRenamed("w2", "w")
        val tot = cont.agg(sum(col("cont")).cast("double").as("tc"))
        cont.crossJoin(broadcast(tot))
          .select(col("w"), col("cont"), col("c2"),
            (col("cont").cast("double") / col("tc")).as("p_cont"))
          .orderBy(desc("cont"), col("w"))
          .limit(20)
      },
      Some(s"""WITH tok AS (SELECT doc_id, $duckTokens AS w FROM documents),
              |bg AS (SELECT w[i] AS w1, w[i+1] AS w2
              |  FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)),
              |cont AS (SELECT w2 AS w, CAST(count(DISTINCT w1) AS BIGINT) AS cont,
              |    CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w2),
              |tot AS (SELECT CAST(SUM(cont) AS DOUBLE) AS tc FROM cont)
              |SELECT w, cont, c2, CAST(cont AS DOUBLE) / tc AS p_cont
              |FROM cont, tot ORDER BY cont DESC, w LIMIT 20""".stripMargin)),

    // q326 — WebP VP8X container walk: the RIFF sibling of the q120 WAV
    // chunk walk for the image side — canvas dims are 24-bit LE
    // minus-one fields in the VP8X extended header, alpha/EXIF are
    // feature-flag bits, chunks pad to even RIFF lengths. Fixture
    // geometry is id-derived (the q259 pattern); the decode reads ONLY
    // the WebP bytes, and the oracle reconstructs the same framing
    // arithmetic. Narrow per-row transform — the 100 TB media-metadata
    // shape.
    QuerySpec("q326_webp_meta",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val n = txt.getBytes("UTF-8").length
          val media = graft.functions.Multimodal.webpBytes(
            width = (16 + id % 64).toInt,
            height = (16 + (id * 7) % 48).toInt,
            alpha = id % 2 == 0,
            exifLen = if (id % 3 == 0) n % 23 else 0,
            vp8Len = 10 + n % 40)
          graft.functions.Multimodal.decodeWebpMeta(media).map {
            case (w, h, a, e, nc, fb) => (id, fb, w, h, a, e, nc)
          }
        }).toDF("doc_id", "file_bytes", "width", "height", "has_alpha",
            "has_exif", "n_chunks")
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, strlen(text) AS n,
             |    CASE WHEN doc_id % 3 = 0 THEN strlen(text) % 23 ELSE 0 END AS exif,
             |    10 + strlen(text) % 40 AS vp8
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(12 + 18 + CASE WHEN exif > 0 THEN 8 + exif + exif % 2 ELSE 0 END
             |    + 8 + vp8 + vp8 % 2 AS INTEGER) AS file_bytes,
             |  CAST(16 + doc_id % 64 AS INTEGER) AS width,
             |  CAST(16 + (doc_id * 7) % 48 AS INTEGER) AS height,
             |  doc_id % 2 = 0 AS has_alpha,
             |  exif > 0 AS has_exif,
             |  CAST(CASE WHEN exif > 0 THEN 3 ELSE 2 END AS INTEGER) AS n_chunks
             |FROM p ORDER BY doc_id""".stripMargin)),

    // q333 — TAR/WebDataset member walk: each document is packed as a
    // real POSIX ustar archive (the container WebDataset shards training
    // corpora in: <key>.txt + <key>.cls [+ <key>.bin]), then the walker
    // recovers every member's name, size, data offset, and header
    // checksum validity from the raw bytes. The writer is byte-identical
    // to Python tarfile (ArchiveSpec pins the fixture), so the offsets
    // the oracle reconstructs arithmetically — 512-byte headers, payloads
    // padded to 512 — are the offsets `tar` itself would report. Per-file
    // mapPartitions, the multimodal decode shape (narrow, scan-local).
    QuerySpec("q333_tar_members",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val members = Seq(
            s"$id.txt" -> txt.getBytes("UTF-8"),
            s"$id.cls" -> Array.fill((id % 7 + 1).toInt)('c'.toByte)) ++
            (if (id % 2 == 1)
               Seq(s"$id.bin" -> Array.fill(((id % 50) * 4).toInt)('b'.toByte))
             else Nil)
          graft.functions.Archives.decodeTar(
              graft.functions.Archives.tarBytes(members))
            .map { case (nm, sz, off, ok) => (id, nm, sz, off, ok) }
        }).toDF("doc_id", "name", "size", "data_offset", "chksum_ok")
          .orderBy("doc_id", "data_offset")
      },
      Some("""WITH p AS (SELECT doc_id, strlen(text) AS n FROM documents),
             |m AS (
             |  SELECT doc_id, 0 AS idx, doc_id::VARCHAR || '.txt' AS name,
             |         CAST(n AS BIGINT) AS sz FROM p
             |  UNION ALL SELECT doc_id, 1, doc_id::VARCHAR || '.cls',
             |         CAST(doc_id % 7 + 1 AS BIGINT) FROM p
             |  UNION ALL SELECT doc_id, 2, doc_id::VARCHAR || '.bin',
             |         CAST((doc_id % 50) * 4 AS BIGINT) FROM p WHERE doc_id % 2 = 1)
             |SELECT doc_id, name, sz AS size,
             |  CAST(512 + COALESCE(SUM(512 + ((sz + 511) // 512) * 512)
             |    OVER (PARTITION BY doc_id ORDER BY idx
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS BIGINT) AS data_offset,
             |  TRUE AS chksum_ok
             |FROM m ORDER BY doc_id, data_offset""".stripMargin)),

    // q341 — ZIP central-directory walk (q333's tar sibling): each doc
    // packed as a STORED PKZIP, then the walker recovers every member's
    // name, size, and data offset FROM THE CENTRAL DIRECTORY (the
    // random-access path `unzip` uses) and verifies local-header
    // signatures + payload CRC32s. STORED offsets are pure arithmetic
    // (30 + name + payload per member), which the oracle reconstructs;
    // crc_ok=true in the output is real verification, not a constant —
    // ZipSpec pins the corruption path, and the walker also reads
    // python-zipfile archives (foreign-bytes fixture).
    QuerySpec("q341_zip_members",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val members = Seq(
            s"$id.txt" -> txt.getBytes("UTF-8"),
            s"$id.cls" -> Array.fill((id % 7 + 1).toInt)('c'.toByte)) ++
            (if (id % 2 == 1)
               Seq(s"$id.bin" -> Array.fill(((id % 50) * 4).toInt)('b'.toByte))
             else Nil)
          graft.functions.Zips.decodeZip(
              graft.functions.Zips.zipBytes(members))
            .map { case (nm, sz, off, ok) => (id, nm, sz, off, ok) }
        }).toDF("doc_id", "name", "size", "data_offset", "crc_ok")
          .orderBy("doc_id", "data_offset")
      },
      Some("""WITH p AS (SELECT doc_id, strlen(text) AS n,
             |         strlen(CAST(doc_id AS VARCHAR)) + 4 AS nlen FROM documents),
             |m AS (
             |  SELECT doc_id, 0 AS idx, doc_id::VARCHAR || '.txt' AS name,
             |         CAST(n AS BIGINT) AS sz, nlen FROM p
             |  UNION ALL SELECT doc_id, 1, doc_id::VARCHAR || '.cls',
             |         CAST(doc_id % 7 + 1 AS BIGINT), nlen FROM p
             |  UNION ALL SELECT doc_id, 2, doc_id::VARCHAR || '.bin',
             |         CAST((doc_id % 50) * 4 AS BIGINT), nlen FROM p
             |         WHERE doc_id % 2 = 1)
             |SELECT doc_id, name, sz AS size,
             |  CAST(COALESCE(SUM(30 + nlen + sz) OVER (PARTITION BY doc_id ORDER BY idx
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    + 30 + nlen AS BIGINT) AS data_offset,
             |  TRUE AS crc_ok
             |FROM m ORDER BY doc_id, data_offset""".stripMargin)),

    // q342 — Matroska/EBML container walk (closing the video-container
    // family next to MP4's ISO-BMFF, q272): each doc packed as a real
    // minimal MKV — EBML header with DocType, Segment(Info(TimestampScale,
    // Duration-as-IEEE-double), Tracks(TrackEntry×k), Cluster×c with
    // SimpleBlocks) — then walked by the real vint rules (element-id
    // width from the marker bit, size vints of any legal width). The
    // writer pins sizes to 8-byte vints, so file size is affine in the
    // id-derived geometry and the oracle reconstructs every output
    // column arithmetically: 99 + 29·tracks + 25·clusters + 13·blocks +
    // block_bytes. Duration round-trips through real IEEE-754 bits.
    QuerySpec("q342_mkv_meta",
      (s, dir) => {
        import s.implicits._
        val ds = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        ds.mapPartitions(_.flatMap { case (id, txt) =>
          val n = txt.getBytes("UTF-8").length
          val clusters = (0 until (1 + n % 3).toInt).map { c =>
            val blocks = (0 until (1 + (n + c) % 4)).map { j =>
              16 + ((n * 7 + c * 31 + j * 13) % 100)
            }
            (c * 1000L, blocks)
          }
          val media = graft.functions.Multimodal.mkvBytes(
            nTracks = (1 + id % 2).toInt,
            durationMs = 1000 + id % 9000,
            clusters = clusters)
          graft.functions.Multimodal.decodeMkv(media).map {
            case (nt, tss, dur, nc, nb, bb) =>
              (id, media.length, nt, tss, dur, nc, nb, bb)
          }
        }).toDF("doc_id", "media_bytes", "n_tracks", "ts_scale",
            "duration_ms", "n_clusters", "n_blocks", "block_bytes")
          .orderBy("doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, strlen(text) AS n FROM documents),
             |bl AS (SELECT p.doc_id, p.n, c.i AS c, j.i AS j,
             |         16 + (p.n * 7 + c.i * 31 + j.i * 13) % 100 AS blen
             |       FROM p, generate_series(0, 2) c(i), generate_series(0, 3) j(i)
             |       WHERE c.i <= p.n % 3 AND j.i < 1 + (p.n + c.i) % 4),
             |agg AS (SELECT doc_id, max(n) AS n,
             |          CAST(count(DISTINCT c) AS INTEGER) AS nc,
             |          CAST(count(*) AS INTEGER) AS nb,
             |          CAST(SUM(blen) AS BIGINT) AS bb
             |        FROM bl GROUP BY doc_id)
             |SELECT a.doc_id,
             |  CAST(99 + 29 * (1 + a.doc_id % 2) + 25 * nc + 13 * nb + bb
             |    AS INTEGER) AS media_bytes,
             |  CAST(1 + a.doc_id % 2 AS INTEGER) AS n_tracks,
             |  CAST(1000000 AS BIGINT) AS ts_scale,
             |  CAST(1000 + a.doc_id % 9000 AS BIGINT) AS duration_ms,
             |  nc AS n_clusters, nb AS n_blocks, bb AS block_bytes
             |FROM agg a ORDER BY a.doc_id""".stripMargin)),

    // q344 — Aho–Corasick multi-pattern contamination scan: all K
    // patterns matched in ONE pass per document (goto trie + failure
    // links, built once on the driver, broadcast-sized) — the scale
    // shape a 100 TB pattern scanner needs, vs the K replace-passes the
    // ORACLE deliberately uses, so the gate proves automaton ≡
    // replace-arithmetic. Patterns are border-free (no proper
    // prefix=suffix), making AC's every-match-end count equal SQL's
    // non-overlapping replace count — the parity contract
    // AhoCorasickSpec pins property-style on random strings.
    QuerySpec("q344_multi_pattern_scan",
      (s, dir) => {
        import s.implicits._
        val pats = graft.ops.AhoCorasick.contaminationPatterns
        val ac = new graft.ops.AhoCorasick(pats)
        val ds = Tables.load(s, dir, "documents")
          .select(col("text")).as[String]
        ds.mapPartitions { it =>
          val acc = Array.fill(pats.size)((0L, 0L)) // (docs, occs)
          it.foreach { txt =>
            val c = ac.countAll(txt)
            var i = 0
            while (i < c.length) {
              if (c(i) > 0)
                acc(i) = (acc(i)._1 + 1, acc(i)._2 + c(i))
              i += 1
            }
          }
          acc.iterator.zipWithIndex.map { case ((d, o), i) => (pats(i), d, o) }
        }.toDF("pattern", "n_docs", "n_occ")
          .groupBy("pattern")
          .agg(sum("n_docs").as("n_docs"), sum("n_occ").as("n_occ"))
          .orderBy("pattern")
      },
      Some(graft.ops.AhoCorasick.contaminationPatterns.map { p =>
        s"""SELECT '$p' AS pattern,
           |  CAST(count(*) FILTER (text LIKE '%$p%') AS BIGINT) AS n_docs,
           |  CAST(COALESCE(SUM((strlen(text) - strlen(replace(text, '$p', '')))
           |    // strlen('$p')), 0) AS BIGINT) AS n_occ
           |FROM documents""".stripMargin
      }.mkString("", " UNION ALL ", " ORDER BY pattern"))),

    // q345 — HITS hubs & authorities on the customer→part bipartite
    // purchase graph (PageRank's q131 sibling; the query-independent
    // half of topic-sensitive search): a = EᵀEa recursion, 3 authority
    // iterations. EXACT-INTEGER discipline like q131/q328 — the scores
    // stay UNNORMALIZED (h₀=1; every step is a BIGINT sum over edges),
    // which preserves the HITS ranking while eliminating every float/
    // rounding hazard; magnitudes grow as degree^k, bounded well inside
    // BIGINT at any tested SF (DECIMAL(38,0) is the 100 TB widening).
    // One distinct-edge shuffle + 5 edge-grain join+agg rounds.
    QuerySpec("q345_hits_authority",
      (s, dir) => {
        val e = Tables.load(s, dir, "orders")
          .join(Tables.load(s, dir, "lineitem"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("u"), col("l_partkey").as("p"))
          .distinct()
          .persistTracked()
        val a1 = e.groupBy("p").agg(count(lit(1)).as("a"))
        val h1 = e.join(a1, "p").groupBy("u").agg(sum("a").as("h"))
        val a2 = e.join(h1, "u").groupBy("p").agg(sum("h").as("a"))
        val h2 = e.join(a2, "p").groupBy("u").agg(sum("a").as("h"))
        val a3 = e.join(h2, "u").groupBy("p").agg(sum("h").as("a"))
        a3.select(col("p").as("partkey"), col("a").as("authority"))
          .orderBy(desc("authority"), col("partkey"))
          .limit(20)
      },
      Some("""WITH e AS (SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
             |           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
             |a1 AS (SELECT p, CAST(count(*) AS BIGINT) AS a FROM e GROUP BY p),
             |h1 AS (SELECT u, CAST(SUM(a1.a) AS BIGINT) AS h FROM e JOIN a1 USING (p) GROUP BY u),
             |a2 AS (SELECT p, CAST(SUM(h1.h) AS BIGINT) AS a FROM e JOIN h1 USING (u) GROUP BY p),
             |h2 AS (SELECT u, CAST(SUM(a2.a) AS BIGINT) AS h FROM e JOIN a2 USING (p) GROUP BY u),
             |a3 AS (SELECT p, CAST(SUM(h2.h) AS BIGINT) AS a FROM e JOIN h2 USING (u) GROUP BY p)
             |SELECT CAST(p AS BIGINT) AS partkey, a AS authority FROM a3
             |ORDER BY authority DESC, partkey LIMIT 20""".stripMargin)),

    // q347 — HEAPS'-LAW fit (vocabulary-growth scaling): cumulative
    // 3-shingle vocabulary V(N) vs cumulative shingle count N over 10
    // corpus prefixes (doc_id % 10 buckets), with the log-log OLS fit
    // V ≈ K·N^β. The scan-side is corpus-linear (one shingle explode, a
    // first-bucket min per distinct shingle); cumulation and the fit
    // happen on the 10-row bucket frame. ln() terms are round(·,6)
    // DECIMAL (q206 transcendental rule); the OLS slope uses the exact
    // decimal moment sums with ONE double division (q212 rule), the
    // intercept one more. β for this corpus ≈ 0.81 — a real
    // sub-linear vocabulary curve, the number a tokenizer-budget plan
    // extrapolates on.
    QuerySpec("q347_heaps_law",
      (s, dir) => {
        val sh = Tables.load(s, dir, "documents")
          .select((col("doc_id") % 10).as("b"),
            graft.functions.Text.tokens(lower(col("text"))).as("tk"))
          .select(col("b"),
            explode(graft.functions.Text.shinglesFromTokens(col("tk"))).as("sq"))
          .persistTracked()
        val nk = sh.groupBy("b").agg(count(lit(1)).as("ntok"))
        val vk = sh.groupBy("sq").agg(min("b").as("b"))
          .groupBy("b").agg(count(lit(1)).as("nv"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("b")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val pt = s.range(10).select(col("id").as("b"))
          .join(nk, Seq("b"), "left").join(vk, Seq("b"), "left")
          .select(col("b"), coalesce(col("ntok"), lit(0L)).as("ntok"),
            coalesce(col("nv"), lit(0L)).as("nv"))
          .withColumn("n_cum", sum("ntok").over(w))
          .withColumn("v_cum", sum("nv").over(w))
          // round(ln,6) → decimal → ×1e6 → BIGINT: the moment sums below
          // are then EXACT integers, immune to the engines' different
          // 38-digit decimal overflow behavior (first draft diverged at
          // 1e-8 exactly there). The 1e6 scale cancels in the slope.
          .select(col("b"), col("n_cum"), col("v_cum"),
            (round(log(col("n_cum").cast("double")), 6)
              .cast("decimal(18,6)") * 1000000).cast("long").as("x"),
            (round(log(col("v_cum").cast("double")), 6)
              .cast("decimal(18,6)") * 1000000).cast("long").as("y"))
          .persistTracked()
        val fit = pt.agg(sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(((lit(10L) * col("sxy") - col("sx") * col("sy")).cast("double")
            / (lit(10L) * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("slope"), col("sx"), col("sy"))
          .select(col("slope"),
            ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
              / 10 / 1000000.0).as("icept"))
        pt.crossJoin(fit)
          .select(col("b").as("bucket"), col("n_cum").as("n_shingles"),
            col("v_cum").as("vocab"), col("slope").as("heaps_beta"),
            col("icept").as("heaps_logk"))
          .orderBy("bucket")
      },
      Some("""WITH toks AS (SELECT doc_id % 10 AS b,
             |        string_split_regex(trim(lower(text)), '\s+') AS w FROM documents),
             |sh AS (SELECT b, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
             |       FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)),
             |nk AS (SELECT b, CAST(count(*) AS BIGINT) AS ntok FROM sh GROUP BY b),
             |fo AS (SELECT s, min(b) AS fb FROM sh GROUP BY s),
             |vk AS (SELECT fb AS b, CAST(count(*) AS BIGINT) AS nv FROM fo GROUP BY fb),
             |k AS (SELECT CAST(i AS BIGINT) AS b FROM UNNEST(generate_series(0, 9)) s(i)),
             |cum AS (SELECT k.b,
             |    (SELECT COALESCE(SUM(ntok), 0) FROM nk WHERE nk.b <= k.b) AS n_cum,
             |    (SELECT COALESCE(SUM(nv), 0) FROM vk WHERE vk.b <= k.b) AS v_cum FROM k),
             |pt AS (SELECT b, n_cum, v_cum,
             |    CAST(CAST(round(ln(CAST(n_cum AS DOUBLE)), 6) AS DECIMAL(18,6))
             |      * 1000000 AS BIGINT) AS x,
             |    CAST(CAST(round(ln(CAST(v_cum AS DOUBLE)), 6) AS DECIMAL(18,6))
             |      * 1000000 AS BIGINT) AS y FROM cum),
             |f AS (SELECT SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
             |        SUM(x*x) AS sxx FROM pt),
             |fit AS (SELECT CAST(10 * sxy - sx * sy AS DOUBLE)
             |          / CAST(10 * sxx - sx * sx AS DOUBLE) AS slope, sx, sy FROM f),
             |fit2 AS (SELECT slope,
             |        (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / 10
             |          / 1000000.0 AS icept FROM fit)
             |SELECT b AS bucket, CAST(n_cum AS BIGINT) AS n_shingles,
             |  CAST(v_cum AS BIGINT) AS vocab,
             |  slope AS heaps_beta, icept AS heaps_logk
             |FROM pt CROSS JOIN fit2 ORDER BY bucket""".stripMargin)),

    // q348 — FEATURE-HASHING collision audit (the "hashing trick"
    // dimensionality check an ML featurizer runs before committing to a
    // bucket count): every distinct token hashed into 256 buckets with
    // the portable md5-prefix hash; output is the bucket-load histogram
    // plus the global collision rate. One vocabulary-grain aggregate —
    // at 100 TB the vocabulary (not the corpus) is the working set, and
    // the same query re-run with a bigger modulus IS the capacity plan.
    QuerySpec("q348_feature_hashing",
      (s, dir) => {
        val ld = Tables.load(s, dir, "documents")
          .select(explode(graft.functions.Text.tokens(lower(col("text"))))
            .as("t"))
          .distinct()
          .select((call_function("graft_hash32", col("t")) % 256).as("bkt"))
          .groupBy("bkt").agg(count(lit(1)).as("n_feats"))
          .persistTracked()
        val hist = ld.groupBy(col("n_feats").as("load"))
          .agg(count(lit(1)).as("n_buckets"))
        val summ = ld.agg(sum("n_feats").as("n_features"),
          count(lit(1)).as("buckets_used"), max("n_feats").as("max_load"))
        hist.crossJoin(summ)
          .select(col("load"), col("n_buckets"), col("n_features"),
            col("buckets_used"), col("max_load"),
            ((col("n_features") - col("buckets_used")).cast("double")
              / col("n_features")).as("collision_rate"))
          .orderBy("load")
      },
      Some("""WITH tok AS (SELECT DISTINCT
             |        unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
             |      FROM documents),
             |h AS (SELECT t, CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 256 AS bkt
             |      FROM tok),
             |ld AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_feats FROM h GROUP BY bkt),
             |hist AS (SELECT n_feats AS load, CAST(count(*) AS BIGINT) AS n_buckets
             |         FROM ld GROUP BY 1),
             |summ AS (SELECT CAST(SUM(n_feats) AS BIGINT) AS n_features,
             |    CAST(count(*) AS BIGINT) AS buckets_used,
             |    CAST(max(n_feats) AS BIGINT) AS max_load
             |  FROM ld)
             |SELECT hist.load, hist.n_buckets, s.n_features, s.buckets_used,
             |  s.max_load,
             |  CAST(s.n_features - s.buckets_used AS DOUBLE) / s.n_features
             |    AS collision_rate
             |FROM hist CROSS JOIN summ s ORDER BY load""".stripMargin)),

    // q358 — decile LIFT/GAINS table for the q117 quality classifier
    // against the lang='en' label (the model-eval sheet a ranking
    // filter ships with, complementing q253's AUC with the
    // budget-targeting view: "top-k deciles capture X× base rate").
    // Deciles come from a PrefixSum global rank fed through q312's
    // exact ntile bucket arithmetic — never a single-reducer global
    // ntile window; the oracle uses DuckDB's NATIVE ntile so the gate
    // re-proves formula ≡ engine on this ordering too. Cumulatives are
    // a 10-row frame; rates/lift are fixed double chains.
    QuerySpec("q358_lift_table",
      (s, dir) => {
        import org.apache.spark.sql.Column
        def idiv(a: Column, b: Column): Column =
          ((a - pmod(a, b)) / b).cast("long")
        def ntileScore(rank: Column, n: Column, k: Int): Column = {
          val base = idiv(n, lit(k))
          val m = pmod(n, lit(k))
          val cut = m * (base + 1)
          when(rank <= cut, idiv(rank - 1, base + 1) + 1)
            .otherwise(m + idiv(rank - cut - 1, base) + 1)
        }
        val scored = Tables.load(s, dir, "documents")
          .select(col("doc_id"), (col("lang") === "en").cast("long").as("pos"),
            qualityP.as("p"))
          .withColumn("negp", -col("p"))
          .withColumn("one", lit(1L))
        val ranked = graft.ops.PrefixSum.cumsum(scored,
          Seq("negp", "doc_id"), "one", "rk")
        val nn = ranked.agg(count(lit(1)).as("n"), sum("pos").as("np"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        ranked.crossJoin(nn)
          .withColumn("decile", ntileScore(col("rk"), col("n"), 10).cast("int"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"),
            max("n").as("n"), max("np").as("np"))
          .withColumn("cum_docs", sum("n_docs").over(w))
          .withColumn("cum_pos", sum("n_pos").over(w))
          .select(col("decile"), col("n_docs"), col("n_pos"),
            col("cum_pos"),
            (col("cum_pos").cast("double") / col("cum_docs")).as("cum_rate"),
            ((col("cum_pos").cast("double") / col("cum_docs"))
              / (col("np").cast("double") / col("n"))).as("lift"))
          .orderBy("decile")
      },
      Some(s"""WITH scored AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS pos,
              |    $duckQualityP AS p FROM documents),
              |r AS (SELECT doc_id, pos,
              |    ntile(10) OVER (ORDER BY p DESC, doc_id) AS decile FROM scored),
              |nn AS (SELECT count(*) AS n, SUM(pos) AS np FROM scored),
              |d AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(SUM(pos) AS BIGINT) AS n_pos FROM r GROUP BY decile),
              |c AS (SELECT decile, n_docs, n_pos,
              |    SUM(n_docs) OVER (ORDER BY decile
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_docs,
              |    SUM(n_pos) OVER (ORDER BY decile
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
              |  FROM d)
              |SELECT CAST(decile AS INTEGER) AS decile, n_docs, n_pos,
              |  CAST(cum_pos AS BIGINT) AS cum_pos,
              |  CAST(cum_pos AS DOUBLE) / cum_docs AS cum_rate,
              |  (CAST(cum_pos AS DOUBLE) / cum_docs)
              |    / (CAST(np AS DOUBLE) / n) AS lift
              |FROM c CROSS JOIN nn ORDER BY decile""".stripMargin)),

    // q366 — SYSTEMATIC PPS SAMPLE (probability proportional to size):
    // k=100 evenly-spaced probes into the cumulative char-weight line,
    // each probe selecting the document whose weight interval covers
    // it — the deterministic size-weighted sampler a corpus auditor
    // uses (heavy docs sampled proportionally more; a doc heavier than
    // W/k legitimately repeats). ALL-integer: probe positions are
    // (2i+1)·W DIV 2k, intervals are PrefixSum cumweights — no
    // transcendental priorities (the u^(1/w) trick is IEEE-hostile).
    // The interval probe rides ops.RangeJoin's binned equi-join (512-
    // char bins), never a corpus×k nested loop; the probe frame is a
    // bounded 100-row crossJoin against the 1-row total.
    QuerySpec("q366_pps_systematic_sample",
      (s, dir) => {
        val w = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("long").as("w"))
        val c = graft.ops.PrefixSum.cumsum(w, "doc_id", "w", "cw")
          .select(col("doc_id"), col("w"),
            (col("cw") - col("w")).as("lo"), (col("cw") - 1).as("hi"))
        val tot = w.agg(sum(col("w")).as("tw"))
        val probes = s.range(0, 100).select(col("id").as("i"))
          .crossJoin(broadcast(tot)) // 1-row total frame
          .select(col("i"), expr("(2*i+1) * tw DIV 200").as("t_lo"))
          .withColumn("t_hi", col("t_lo"))
        graft.ops.RangeJoin.intervalOverlap(
            c, "lo", "hi", probes, "t_lo", "t_hi", 512L)
          .select(col("i"), col("doc_id"), col("w"))
          .orderBy("i")
      },
      Some("""WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
             |c AS (SELECT doc_id, w,
             |    SUM(w) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
             |  FROM w),
             |tot AS (SELECT SUM(w) AS tw FROM w),
             |probes AS (SELECT i, (2*i+1) * tw // 200 AS t
             |  FROM (SELECT UNNEST(generate_series(0, 99)) AS i), tot)
             |SELECT p.i, c.doc_id, c.w
             |FROM probes p JOIN c ON p.t >= c.cw - c.w AND p.t <= c.cw - 1
             |ORDER BY p.i""".stripMargin)),

    // q386 — FILTER-FUNNEL ABLATION, the report every curation pipeline
    // publishes before committing a filter set: for each of three
    // quality filters (min length, language allowlist, min tokens) —
    // how many documents does it kill ALONE, how many does it UNIQUELY
    // kill (fails this one, passes the others — the filter's marginal
    // value), and what fraction of its kills survive everything else.
    // Plus the joint row: survivors and surviving chars of the full
    // stack. ONE corpus pass, all conditional aggregation — at 100 TB
    // you cannot afford a scan per filter; the 4-row report frame is
    // driver-shaped output, not data.
    QuerySpec("q386_filter_funnel",
      (s, dir) => {
        val f1 = col("n_chars") >= 150
        val f2 = col("lang").isin("en", "es", "de", "fr")
        val f3 = graft.functions.Text.tokenCount(col("text")) >= 25
        val m = Tables.load(s, dir, "documents")
          .agg(count(lit(1)).as("total"),
            sum(when(!f1, 1L).otherwise(0L)).as("k1"),
            sum(when(!f2, 1L).otherwise(0L)).as("k2"),
            sum(when(!f3, 1L).otherwise(0L)).as("k3"),
            sum(when(!f1 && f2 && f3, 1L).otherwise(0L)).as("u1"),
            sum(when(f1 && !f2 && f3, 1L).otherwise(0L)).as("u2"),
            sum(when(f1 && f2 && !f3, 1L).otherwise(0L)).as("u3"),
            sum(when(f1 && f2 && f3, 1L).otherwise(0L)).as("joint"),
            sum(when(f1 && f2 && f3, col("n_chars")).otherwise(0L))
              .as("joint_chars"))
          .persistTracked() // 1-row report frame, referenced 4× below
        val rows = Seq(("1_min_length", "k1", "u1"),
          ("2_lang_allowlist", "k2", "u2"), ("3_min_tokens", "k3", "u3"))
        rows.map { case (name, k, u) =>
          m.select(lit(name).as("filter"), col(k).as("n_killed"),
            col(u).as("n_unique_kills"), col("total"),
            lit(null).cast("long").as("survivor_chars"))
        }.reduce(_ unionByName _)
          .unionByName(m.select(lit("4_joint_stack").as("filter"),
            (col("total") - col("joint")).as("n_killed"),
            lit(null).cast("long").as("n_unique_kills"), col("total"),
            col("joint_chars").as("survivor_chars")))
          .orderBy("filter")
      },
      Some("""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS total,
             |  CAST(SUM(CASE WHEN NOT (n_chars >= 150) THEN 1 ELSE 0 END) AS BIGINT) AS k1,
             |  CAST(SUM(CASE WHEN NOT (lang IN ('en','es','de','fr')) THEN 1 ELSE 0 END) AS BIGINT) AS k2,
             |  CAST(SUM(CASE WHEN NOT (len(string_split_regex(trim(text), '\s+')) >= 25) THEN 1 ELSE 0 END) AS BIGINT) AS k3,
             |  CAST(SUM(CASE WHEN NOT (n_chars >= 150) AND lang IN ('en','es','de','fr')
             |    AND len(string_split_regex(trim(text), '\s+')) >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS u1,
             |  CAST(SUM(CASE WHEN n_chars >= 150 AND NOT (lang IN ('en','es','de','fr'))
             |    AND len(string_split_regex(trim(text), '\s+')) >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS u2,
             |  CAST(SUM(CASE WHEN n_chars >= 150 AND lang IN ('en','es','de','fr')
             |    AND NOT (len(string_split_regex(trim(text), '\s+')) >= 25) THEN 1 ELSE 0 END) AS BIGINT) AS u3,
             |  CAST(SUM(CASE WHEN n_chars >= 150 AND lang IN ('en','es','de','fr')
             |    AND len(string_split_regex(trim(text), '\s+')) >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS joint,
             |  CAST(SUM(CASE WHEN n_chars >= 150 AND lang IN ('en','es','de','fr')
             |    AND len(string_split_regex(trim(text), '\s+')) >= 25 THEN n_chars ELSE 0 END) AS BIGINT) AS joint_chars
             |  FROM documents)
             |SELECT '1_min_length' AS filter, k1 AS n_killed, u1 AS n_unique_kills,
             |  total, CAST(NULL AS BIGINT) AS survivor_chars FROM m
             |UNION ALL SELECT '2_lang_allowlist', k2, u2, total, NULL FROM m
             |UNION ALL SELECT '3_min_tokens', k3, u3, total, NULL FROM m
             |UNION ALL SELECT '4_joint_stack', total - joint, NULL, total, joint_chars FROM m
             |ORDER BY filter""".stripMargin)),

    // q391 — RAKE keyphrase extraction (Rose et al. '10): candidate
    // phrases are maximal stopword-free token runs (gaps-and-islands
    // on token position — pos − row_number is the island key), word
    // scores are degree/frequency where freq counts occurrences and
    // degree sums the lengths of the phrases each occurrence sits in,
    // and a phrase scores the SUM of its words' ratios. All counts are
    // exact integers; each word ratio is one division, and the
    // per-phrase sum is an INDEX-ORDERED fold by token position (Σ of
    // doubles is order-dependent — the q390/NOTES vector rule). Top 15
    // by score with a phrase-text tiebreak; identical phrase strings
    // fold to identical scores, so the distinct-phrase max is exact.
    QuerySpec("q391_rake_keyphrases",
      (s, dir) => {
        val tok = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(Text.tokens(lower(col("text")))).as(Seq("pos", "w")))
        val wI = Window.partitionBy("doc_id").orderBy("pos")
        val phrases = tok
          .filter(!col("w").isInCollection(Text.stopwords))
          .withColumn("isl", col("pos") - row_number().over(wI))
          .groupBy("doc_id", "isl")
          .agg(sort_array(collect_list(struct(col("pos"), col("w"))))
            .as("ws"))
          .select(col("doc_id"), col("isl"),
            expr("transform(ws, x -> x.w)").as("words"),
            size(col("ws")).as("len"))
          .persistTracked()
        val wordStats = phrases
          .select(explode(col("words")).as("w"), col("len"))
          .groupBy("w")
          .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
        val scored = phrases
          .select(col("doc_id"), col("isl"), col("words"),
            posexplode(col("words")).as(Seq("i", "w")))
          .join(wordStats, "w")
          .groupBy(col("doc_id"), col("isl"), col("words"))
          .agg(collect_list(struct(col("i"),
            (col("deg").cast("double") / col("freq").cast("double"))
              .as("r"))).as("rs"))
          .select(concat_ws(" ", col("words")).as("phrase"), expr(
            "aggregate(sort_array(rs), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.r)")
            .as("score"))
        scored.groupBy("phrase")
          .agg(count(lit(1)).as("n_occurrences"), max(col("score")).as("score"))
          .orderBy(col("score").desc, col("phrase"))
          .limit(15)
      },
      Some {
        val stops = graft.functions.Text.stopwords
          .map(w => s"'$w'").mkString("(", ", ", ")")
        s"""WITH tok AS (SELECT doc_id, i - 1 AS pos, w[i] AS w
           |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
           |        FROM documents),
           |       UNNEST(generate_series(1, len(w))) AS t(i)),
           |ns AS (SELECT doc_id, pos, w,
           |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
           |  FROM tok WHERE w NOT IN $stops),
           |ph AS (SELECT doc_id, isl, list(w ORDER BY pos) AS words,
           |    list(pos ORDER BY pos) AS poss,
           |    CAST(count(*) AS BIGINT) AS len
           |  FROM ns GROUP BY 1, 2),
           |pw AS (SELECT doc_id, isl, UNNEST(words) AS w, len FROM ph),
           |ws AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
           |    CAST(SUM(len) AS BIGINT) AS deg FROM pw GROUP BY 1),
           |pi AS (SELECT p.doc_id, p.isl, t.i, p.words[t.i] AS w
           |  FROM ph p, UNNEST(generate_series(1, CAST(p.len AS INTEGER))) AS t(i)),
           |sc AS (SELECT pi.doc_id, pi.isl,
           |    list_sum(list(CAST(ws.deg AS DOUBLE) / CAST(ws.freq AS DOUBLE)
           |      ORDER BY pi.i)) AS score
           |  FROM pi JOIN ws ON ws.w = pi.w GROUP BY 1, 2),
           |named AS (SELECT array_to_string(p.words, ' ') AS phrase, sc.score
           |  FROM ph p JOIN sc ON p.doc_id = sc.doc_id AND p.isl = sc.isl)
           |SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           |  max(score) AS score
           |FROM named GROUP BY phrase
           |ORDER BY score DESC, phrase LIMIT 15""".stripMargin
      }),

    // q392 — TextRank keywords (Mihalcea & Tarau '04): PageRank over
    // the word CO-OCCURRENCE graph (non-stopword tokens within
    // distance ≤ 2 in any document, symmetric, deduped) — the
    // graph-centrality companion to q391's RAKE (degree statistics).
    // Reuses q131's integer-exact PageRank arithmetic verbatim: ranks
    // live in 1e-12 units, contributions are integer divisions, the
    // damping step is (85·inr) DIV 100 + teleport — three unrolled
    // rounds, zero IEEE ops, so the oracle replays the identical
    // integer recurrence. Top 20 by rank with word tiebreak.
    QuerySpec("q392_textrank_keywords",
      (s, dir) => {
        // Pair generation is SCAN-LOCAL (optimization r14, the q126 PMI
        // rule — no doc_id self-join): positions strictly increase, so
        // a partner at original-position distance 1 or 2 can only be
        // one of the next TWO stopword-filtered entries — each token
        // checks exactly those, an O(tokens) HOF pass replacing the
        // exploded corpus self-join (token-grain exchange + join whose
        // doc_id key groups grow with document length). Same pair set:
        // the downstream distinct() collapses occurrence multiplicity
        // exactly as it did the join's row multiplicity.
        val w = Text.tokens(lower(col("text")))
        val tw = filter(
          transform(w, (x, i) => struct(i.as("pos"), x.as("w"))),
          e => !e.getField("w").isInCollection(Text.stopwords))
        val fwd = Tables.load(s, dir, "documents")
          .select(tw.as("tw"))
          .select(explode(flatten(transform(col("tw"), (a, i) =>
            transform(
              filter(
                transform(sequence(lit(1), lit(2)),
                  k => element_at(col("tw"), i + lit(1) + k)),
                b => b.isNotNull &&
                  (b.getField("pos") - a.getField("pos")).isin(1, 2) &&
                  a.getField("w") =!= b.getField("w")),
              b => struct(a.getField("w").as("src"),
                b.getField("w").as("dst")))))).as("p"))
          .select(col("p.src").as("src"), col("p.dst").as("dst"))
        val edges = fwd.unionByName(
            fwd.select(col("dst").as("src"), col("src").as("dst")))
          .distinct().persistTracked()
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val n = deg.count()
        var state = deg.select(col("src").as("node"), col("deg"),
          lit(1000000000000L / n).as("r"))
        for (_ <- 1 to 3) {
          state = state.persistTracked()
          val recv = edges
            .join(state.select(col("node").as("src"), expr("r div deg").as("c")),
              "src")
            .groupBy(col("dst").as("node"))
            .agg(sum(col("c")).as("inr"))
          state = state.drop("r").join(recv, "node")
            .select(col("node"), col("deg"),
              (lit(150000000000L / n) + expr("(85 * inr) div 100")).as("r"))
        }
        state.select(col("node").as("word"), col("deg"), col("r").as("rank"))
          .orderBy(col("rank").desc, col("word"))
          .limit(20)
      },
      Some {
        val stops = graft.functions.Text.stopwords
          .map(w => s"'$w'").mkString("(", ", ", ")")
        s"""WITH tok AS (SELECT doc_id, i AS pos, w[i] AS w
           |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
           |        FROM documents),
           |       UNNEST(generate_series(1, len(w))) AS t(i)
           |  WHERE w[i] NOT IN $stops),
           |fwd AS (SELECT DISTINCT a.w AS src, b.w AS dst
           |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id
           |    AND b.pos - a.pos IN (1, 2) AND a.w <> b.w),
           |edges AS (SELECT src, dst FROM fwd
           |          UNION SELECT dst, src FROM fwd),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |n AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT src AS node, deg,
           |    1000000000000 // (SELECT n FROM n) AS r FROM deg),
           |c1 AS (SELECT e.dst AS node, CAST(SUM(r0.r // r0.deg) AS BIGINT) AS inr
           |  FROM edges e JOIN r0 ON e.src = r0.node GROUP BY e.dst),
           |r1 AS (SELECT d.src AS node, d.deg,
           |    CAST(150000000000 // (SELECT n FROM n) + (85 * inr) // 100 AS BIGINT) AS r
           |  FROM deg d JOIN c1 ON d.src = c1.node),
           |c2 AS (SELECT e.dst AS node, CAST(SUM(r1.r // r1.deg) AS BIGINT) AS inr
           |  FROM edges e JOIN r1 ON e.src = r1.node GROUP BY e.dst),
           |r2 AS (SELECT d.src AS node, d.deg,
           |    CAST(150000000000 // (SELECT n FROM n) + (85 * inr) // 100 AS BIGINT) AS r
           |  FROM deg d JOIN c2 ON d.src = c2.node),
           |c3 AS (SELECT e.dst AS node, CAST(SUM(r2.r // r2.deg) AS BIGINT) AS inr
           |  FROM edges e JOIN r2 ON e.src = r2.node GROUP BY e.dst),
           |r3 AS (SELECT d.src AS node, d.deg,
           |    CAST(150000000000 // (SELECT n FROM n) + (85 * inr) // 100 AS BIGINT) AS r
           |  FROM deg d JOIN c3 ON d.src = c3.node)
           |SELECT node AS word, CAST(deg AS BIGINT) AS deg, r AS rank
           |FROM r3 ORDER BY r DESC, word LIMIT 20""".stripMargin
      }))
}
