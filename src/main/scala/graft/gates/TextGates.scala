package graft
package gates

import org.apache.spark.sql.functions._

import graft.ops.{QualityClassifier, TextAnalysis, TextDedup}

/** Text cleaning, quality filters and text dedup: exact, substring,
  * n-gram, MinHash-cluster and SimHash dedup, URL and markup cleaning,
  * Gopher/C4 rules, contamination checks and per-document profiles. */
object TextGates {
  import Gate.t

  /** Pinned dictionary for the keyword-tagging gate — chosen to force
    * the automaton's interesting transitions on the fixture vocabulary:
    * a phrase sharing a prefix with a word ("scan"/"scan slow"), a term
    * that only occurs inside another ("ast" ⊂ "fast"), and a
    * self-overlapping phrase ("table table"). Shared with the oracle's
    * VALUES list. */
  private[graft] val KeywordTagList: Seq[String] =
    Seq("scan", "scan slow", "table table", "fast", "ast", "a row")

  /**
   * r11 outcome pin for `q_quality_classifier`: the doc_ids the
   * quantized-trained logistic model predicts NEGATIVE at sf0.01 (the
   * smaller class — 40 of 500). Same contract as [[SimsearchPins]]:
   * the quantized-long epoch gradient makes the trained weights a
   * pure function of fixture content (bit-identical across layouts,
   * PqPinSpec), the oracle recomputes weak_label INDEPENDENTLY (the
   * proven-exact qualityScore SQL replay) and pins only the learned
   * prediction, and the tripwire spec re-derives this list by name.
   */
  private[graft] val QualityClassifierPred0: Seq[Long] = Seq(
    5L, 6L, 16L, 19L, 22L, 26L, 43L, 74L, 79L, 94L, 106L, 107L, 110L,
    116L, 156L, 158L, 164L, 204L, 214L, 226L, 236L, 254L, 256L, 273L,
    305L, 327L, 347L, 368L, 384L, 387L, 407L, 418L, 421L, 438L, 455L,
    457L, 469L, 472L, 481L, 492L)

  val all: Seq[Gate] = Seq(

    // exact hash-groupBy dedup
    Gate("q_dedup_exact", (s, dir) =>
      TextDedup.exactGroups(t(s, dir, "documents"), "doc_id", "text"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS survivor_id,
        | count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin)),

    // exact substring (duplicated-span) dedup: verbatim >=8-token runs
    // appearing in more than one document, merged per doc into maximal
    // token intervals — the suffix-array semantics of Lee et al. 2021
    // distributed as k-gram fingerprints (integer output, hash-exact)
    Gate("q_substring_spans", (s, dir) =>
      TextDedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 8),
      Some("""WITH toks AS (
        | SELECT doc_id, list_filter(
        |   string_split_regex(lower(trim(text)), '\s+'),
        |   x -> x <> '') AS tk
        | FROM documents),
        |pos AS (
        | SELECT doc_id, tk,
        |  CAST(unnest(generate_series(0, len(tk) - 8)) AS BIGINT) AS pos
        | FROM toks),
        |occ AS (
        | SELECT doc_id, pos, array_to_string(tk[pos+1 : pos+8], ' ') AS g
        | FROM pos),
        |dup AS (SELECT g FROM occ GROUP BY g HAVING min(doc_id) <> max(doc_id)),
        |hits AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (g)),
        |w AS (
        | SELECT doc_id, pos, max(pos + 7) OVER (PARTITION BY doc_id
        |   ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |   AS prev_end
        | FROM hits),
        |isl AS (
        | SELECT doc_id, pos,
        |  sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS island
        | FROM w)
        |SELECT doc_id, min(pos) AS span_start, max(pos + 7) AS span_end,
        | max(pos + 7) - min(pos) + 1 AS span_tokens
        |FROM isl GROUP BY doc_id, island""".stripMargin)),

    // cleaned-corpus face of the same: duplicated spans stripped, text
    // rebuilt in normalized token form + kept/removed token accounting
    Gate("q_substring_clean", (s, dir) =>
      TextDedup.stripDuplicateSpans(t(s, dir, "documents"), "doc_id",
        "text", k = 8),
      Some("""WITH toks AS (
        | SELECT doc_id, list_filter(
        |   string_split_regex(lower(trim(text)), '\s+'),
        |   x -> x <> '') AS tk
        | FROM documents),
        |pos AS (
        | SELECT doc_id, tk,
        |  CAST(unnest(generate_series(0, len(tk) - 8)) AS BIGINT) AS pos
        | FROM toks),
        |occ AS (
        | SELECT doc_id, pos, array_to_string(tk[pos+1 : pos+8], ' ') AS g
        | FROM pos),
        |dup AS (SELECT g FROM occ GROUP BY g HAVING min(doc_id) <> max(doc_id)),
        |hits AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (g)),
        |w AS (
        | SELECT doc_id, pos, max(pos + 7) OVER (PARTITION BY doc_id
        |   ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |   AS prev_end
        | FROM hits),
        |isl AS (
        | SELECT doc_id, pos,
        |  sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS island
        | FROM w),
        |spans AS (
        | SELECT doc_id, min(pos) AS s, max(pos + 7) AS e
        | FROM isl GROUP BY doc_id, island),
        |tok AS (
        | SELECT doc_id, pos, tk[pos+1] AS tok FROM (
        |  SELECT doc_id, tk,
        |   CAST(unnest(generate_series(0, len(tk) - 1)) AS BIGINT) AS pos
        |  FROM toks)),
        |kept AS (
        | SELECT t.doc_id, t.pos, t.tok FROM tok t
        | WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |   WHERE sp.doc_id = t.doc_id AND t.pos BETWEEN sp.s AND sp.e)),
        |reb AS (
        | SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |  count(*) AS kept_tokens
        | FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
        | coalesce(r.kept_tokens, 0) AS kept_tokens,
        | n.n - coalesce(r.kept_tokens, 0) AS removed_tokens
        |FROM documents d
        |LEFT JOIN reb r ON r.doc_id = d.doc_id
        |JOIN (SELECT doc_id, len(list_filter(
        |        string_split_regex(lower(trim(text)), '\s+'),
        |        x -> x <> '')) AS n
        |      FROM documents) n ON n.doc_id = d.doc_id""".stripMargin)),

    // exact n-gram Jaccard threshold join at a moderate threshold —
    // rarest-first (frequency-ordered) prefix filtering keeps the
    // candidate buckets tiny even though the prefix is half the doc
    Gate("q_ngram_jaccard", (s, dir) =>
      TextDedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleLen = 5, threshold = 0.5),
      Some("""WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(1, length(norm) - 4)),
        |    i -> substring(norm, i, 5))) AS s
        | FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents)
        | WHERE length(norm) > 0),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        | FROM sh a JOIN sh b
        |  ON a.doc_id < b.doc_id
        |   AND CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        |       / greatest(len(a.s), len(b.s)) >= 0.5)
        |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5""".stripMargin)),

    // exact Jaccard THRESHOLD JOIN via lossless prefix filtering
    // (AllPairs/PPJoin) — the high-threshold variant, no band caveat
    Gate("q_jaccard_threshold", (s, dir) =>
      TextDedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text", shingleLen = 5, threshold = 0.8),
      Some("""WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(1, length(norm) - 4)),
        |    i -> substring(norm, i, 5))) AS s
        | FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents WHERE doc_id % 5 = 0)
        | WHERE length(norm) > 0),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        | FROM sh a JOIN sh b
        |  ON a.doc_id < b.doc_id
        |   AND CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        |       / greatest(len(a.s), len(b.s)) >= 0.8)
        |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.8""".stripMargin)),

    // URL extraction (planted deterministically — the fixture corpus
    // has no URLs): first URL, registrable host, path
    Gate("q_url_extract", (s, dir) => {
      val planted = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" see https://sub"),
          (col("doc_id") % 7).cast("string"),
          lit(".example-site.org/p/"), col("doc_id").cast("string"),
          lit(" end"))).otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.urlParts(planted).as("u"))
        .select(col("doc_id"), col("u.url").as("url"),
          col("u.domain").as("domain"), col("u.path").as("path"),
          (col("u.url") =!= "").as("has_url"))
    },
      Some("""WITH p AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |   text || ' see https://sub' || CAST(doc_id % 7 AS VARCHAR)
        |        || '.example-site.org/p/' || CAST(doc_id AS VARCHAR) || ' end'
        |  ELSE text END AS t
        | FROM documents)
        |SELECT doc_id,
        | regexp_extract(t, 'https?://[A-Za-z0-9.-]+(/[^ ]*)?', 0) AS url,
        | regexp_extract(t, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
        | regexp_extract(t, 'https?://[A-Za-z0-9.-]+(/[^ ]*)', 1) AS path,
        | regexp_extract(t, 'https?://[A-Za-z0-9.-]+(/[^ ]*)?', 0) <> ''
        |   AS has_url
        |FROM p""".stripMargin)),

    // URL canonicalization + URL-level dedup: five syntactic variants
    // of the same page (case, www, default port, utm params, fragment,
    // trailing slash) planted per id-group; variants 0-2 must collapse
    // to ONE canonical key and the first doc_id per key wins
    Gate("q_url_canonical", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val m = expr("doc_id div 15").cast("string")
      val url = expr("(doc_id div 3) % 5") match { case v =>
        when(v === 0, concat(lit("https://WWW.Example-Site.org/p/"), m, lit("/")))
          .when(v === 1, concat(lit("https://example-site.org:443/p/"), m,
            lit("?utm_source=x")))
          .when(v === 2, concat(lit("https://www.example-site.org/p/"), m,
            lit("#frag")))
          .when(v === 3, concat(lit("https://Example-site.ORG/p/"), m,
            lit("?id=7&utm_campaign=c&x=2")))
          .otherwise(concat(lit("http://example-site.org:80/p/"), m,
            lit("/?utm_a=1&utm_b=2")))
      }
      val w = Window.partitionBy(col("canon")).orderBy(col("doc_id"))
      t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), url.as("url"))
        .withColumn("canon", TextAnalysis.canonicalUrl(col("url")))
        .withColumn("keep", row_number().over(w) === 1)
    },
      Some("""WITH p AS (
        | SELECT doc_id,
        |  CASE (doc_id // 3) % 5
        |   WHEN 0 THEN 'https://WWW.Example-Site.org/p/'
        |     || CAST(doc_id // 15 AS VARCHAR) || '/'
        |   WHEN 1 THEN 'https://example-site.org:443/p/'
        |     || CAST(doc_id // 15 AS VARCHAR) || '?utm_source=x'
        |   WHEN 2 THEN 'https://www.example-site.org/p/'
        |     || CAST(doc_id // 15 AS VARCHAR) || '#frag'
        |   WHEN 3 THEN 'https://Example-site.ORG/p/'
        |     || CAST(doc_id // 15 AS VARCHAR) || '?id=7&utm_campaign=c&x=2'
        |   ELSE 'http://example-site.org:80/p/'
        |     || CAST(doc_id // 15 AS VARCHAR) || '/?utm_a=1&utm_b=2'
        |  END AS url
        | FROM documents WHERE doc_id % 3 = 0),
        |c AS (
        | SELECT doc_id, url,
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(
        |         regexp_replace(
        |          regexp_replace(
        |           lower(regexp_extract(regexp_replace(url, '#.*', ''),
        |             '^(https?://[^/?#]*)', 1)) ||
        |           regexp_replace(regexp_replace(url, '#.*', ''),
        |             '^https?://[^/?#]*', ''),
        |           '^(https?://)www\.', '\1'),
        |          '^(http://[^/?#]*):80([/?#])', '\1\2'),
        |         '^(http://[^/?#]*):80$', '\1'),
        |        '^(https://[^/?#]*):443([/?#])', '\1\2'),
        |       '^(https://[^/?#]*):443$', '\1'),
        |      'utm_[A-Za-z0-9_]*=[^&#]*&', '', 'g'),
        |     '[?&]utm_[A-Za-z0-9_]*=[^&#]*', '', 'g'),
        |    '[?&]$', ''),
        |   '(.)/$', '\1') AS canon
        | FROM p)
        |SELECT doc_id, url, canon,
        | row_number() OVER (PARTITION BY canon ORDER BY doc_id) = 1
        |   AS keep
        |FROM c""".stripMargin)),

    // scrape cleaning: tag strip → entity decode → NFC (native
    // codegen'd expression; Spark has no builtin) → whitespace
    // collapse. Tags/entities/decomposed accents planted on a cadence
    Gate("q_clean_text", (s, dir) => {
      val planted = when(col("doc_id") % 4 === 0,
        concat(lit("<p class=\"x\">"), col("text"),
          lit("</p> &amp; cafe" + "\u0301" + " &lt;tag&gt;")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.cleanText(planted).as("clean"))
    },
      Some("""WITH p AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN
        |   '<p class="x">' || text || '</p> &amp; cafe' || chr(769)
        |     || ' &lt;tag&gt;'
        |  ELSE text END AS t
        | FROM documents)
        |SELECT doc_id,
        | trim(regexp_replace(nfc_normalize(
        |  replace(replace(replace(replace(replace(
        |   regexp_replace(t, '<[^>]*>', ' ', 'g'),
        |   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |   '&amp;', '&')),
        |  '\s+', ' ', 'g')) AS clean
        |FROM p""".stripMargin)),

    // per-domain corpus stats — the domain-level quality/filtering view
    // a pretraining pipeline curates by (count, summed quality, token
    // mass per registered domain). Composes urlParts + qualityScore;
    // quality sums go through DECIMAL(12,4) so the aggregate is
    // order-free exact and the final double cast matches DuckDB
    Gate("q_domain_stats", (s, dir) => {
      val planted = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" see https://sub"),
          (col("doc_id") % 7).cast("string"),
          lit(".example-site.org/p/"), col("doc_id").cast("string"),
          lit(" end"))).otherwise(col("text"))
      t(s, dir, "documents")
        .select(
          TextAnalysis.urlParts(planted).getField("domain").as("domain"),
          TextAnalysis.qualityScore(planted).as("q"),
          TextAnalysis.tokenCount(planted).cast("long").as("nt"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("q").cast("decimal(12,4)")).cast("double").as("sum_quality"),
          sum(col("nt")).as("n_toks"))
    },
      // q_domain_stats oracle — the quality sub-scores mirror
      // textProfileOracle's proven-exact forms; sums ride DECIMAL(12,4)
      // (order-free exact) and the hugeint count-sum casts to BIGINT.
      // KEEP IN LOCKSTEP with [[textProfileOracle]] and
      // [[qualityClassifierOracle]] (three replays of qualityScore).
      Some {
        val stops = graft.ops.TextAnalysis.StopwordLists.head._2
          .map(w => s"'$w'").mkString(",")
        s"""WITH p AS (
           | SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN
           |   text || ' see https://sub' || CAST(doc_id % 7 AS VARCHAR)
           |        || '.example-site.org/p/' || CAST(doc_id AS VARCHAR) || ' end'
           |  ELSE text END AS t
           | FROM documents),
           |f AS (
           | SELECT doc_id,
           |  regexp_extract(t, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
           |  regexp_split_to_array(lower(trim(t)), '\\s+') AS toks,
           |  CASE WHEN t IS NULL OR trim(t) = '' THEN 0
           |       ELSE len(regexp_split_to_array(lower(trim(t)), '\\s+')) END AS n_toks,
           |  length(t) - length(regexp_replace(t, '[.,!?;:()"'']', '', 'g')) AS n_punct,
           |  length(t) AS n_chars,
           |  length(regexp_replace(trim(t), '\\s+', '', 'g')) AS n_nospace
           | FROM p),
           |q AS (
           | SELECT doc_id, domain, n_toks,
           |  least(CAST(n_toks AS DOUBLE) / 20.0, 1.0) AS len_score,
           |  CASE WHEN (CASE WHEN n_toks > 0
           |              THEN CAST(n_nospace AS DOUBLE) / n_toks ELSE 0.0 END)
           |            BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END AS shape_score,
           |  1.0 - least((CASE WHEN n_chars > 0
           |               THEN CAST(n_punct AS DOUBLE) / n_chars
           |               ELSE 0.0 END) * 4.0, 1.0) AS punct_score,
           |  CASE WHEN CAST(len(list_filter(toks, x -> list_contains([$stops], x)))
           |            AS DOUBLE) / greatest(CAST(n_toks AS DOUBLE), 1.0) >= 0.01
           |       THEN 1.0 ELSE 0.5 END AS stop_score
           | FROM f)
           |SELECT domain, count(*) AS n_docs,
           | CAST(sum(CAST(round(len_score * 0.4 + shape_score * 0.2
           |       + punct_score * 0.2 + stop_score * 0.2, 4) AS DECIMAL(12,4)))
           |      AS DOUBLE) AS sum_quality,
           | CAST(sum(n_toks) AS BIGINT) AS n_toks
           |FROM q GROUP BY domain""".stripMargin
      }),

    // PMI collocations: top-50 bigrams by pointwise mutual information
    // (the phrase-detection statistic) — rounded-PMI ordering with a
    // gram tiebreak keeps ranks engine-exact
    Gate("q_pmi", (s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5, k = 50),
      // mirrors TextAnalysis.pmiCollocations: double ratio tree (c12·N
      // overflows BIGINT at scale on the Spark side, so both engines
      // compute in doubles), ln rounded to 6, rank on the ROUNDED value
      Some("""WITH big AS (
        | SELECT w1 || ' ' || w2 AS gram, w1, w2 FROM (
        |  SELECT unnest(t[1 : len(t) - 1]) AS w1,
        |         unnest(t[2 : len(t)]) AS w2
        |  FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS t
        |        FROM documents) WHERE len(t) >= 2)),
        |cnt AS (SELECT gram, w1, w2, count(*) AS c12
        |        FROM big GROUP BY gram, w1, w2),
        |u1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        |u2 AS (SELECT w2, count(*) AS c2 FROM big GROUP BY w2),
        |n AS (SELECT count(*) AS n_bigrams FROM big)
        |SELECT c.gram, c.c12,
        | round(ln((CAST(c.c12 AS DOUBLE) * n.n_bigrams) /
        |          (CAST(u1.c1 AS DOUBLE) * u2.c2)), 6) AS pmi
        |FROM cnt c
        |JOIN u1 ON c.w1 = u1.w1
        |JOIN u2 ON c.w2 = u2.w2
        |CROSS JOIN n
        |WHERE c.c12 >= 5
        |ORDER BY pmi DESC, gram ASC LIMIT 50""".stripMargin)),

    // multi-pattern keyword tagging (blocklist/PII-screen shape): ONE
    // Aho–Corasick pass tags every dictionary hit with position+count —
    // O(chars), dictionary-size-free, zero shuffles; the oracle
    // recomputes each cell with SQL position/replace per keyword (the
    // O(docs × patterns) shape the automaton exists to avoid). The
    // pinned list exercises suffix links ("ast" ⊂ "fast"), phrase
    // prefixes ("scan" ⊂ "scan slow"), and self-overlap ("table table")
    Gate("q_keyword_tags", (s, dir) =>
      TextAnalysis.keywordTags(t(s, dir, "documents"), "doc_id", "text",
        KeywordTagList),
      // each cell recomputed per keyword: first_pos = SQL position,
      // n_hits = replace-delta (non-overlapping count) — exactly the
      // semantics keywordTags documents
      Some("""WITH kw(keyword) AS (VALUES ('scan'), ('scan slow'),
        |  ('table table'), ('fast'), ('ast'), ('a row')),
        |h AS (
        | SELECT d.doc_id, k.keyword,
        |   position(k.keyword IN d.text) AS first_pos,
        |   (length(d.text) - length(replace(d.text, k.keyword, '')))
        |     // length(k.keyword) AS n_hits
        | FROM documents d JOIN kw k ON contains(d.text, k.keyword))
        |SELECT doc_id, keyword, first_pos, n_hits FROM h""".stripMargin)),

    // deflate compression ratio — the long-range-repetition quality
    // signal (compressible = templated/repetitive); zlib output is
    // JVM-library-specific → rows-only, ordering pinned in OpsSpec
    Gate("q_compression", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.compressionRatio(col("text")), 4)
            .as("compression_ratio"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks")), None),

    // deterministic stratified hash sampling: source 'src0' at 1/2,
    // everything else at 1/4 — membership is a pure function of the
    // id (reproducible subsets at 100 TB: no RNG, no seed plumbing)
    Gate("q_sample_strata", (s, dir) =>
      t(s, dir, "documents")
        .filter(when(col("source") === "src0",
          TextAnalysis.sampleByHash(col("doc_id"), 0.5))
          .otherwise(TextAnalysis.sampleByHash(col("doc_id"), 0.25)))
        .select(col("doc_id"), col("source")),
      Some("""SELECT doc_id, source FROM documents
        |WHERE CASE WHEN source = 'src0'
        | THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
        | ELSE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |END""".stripMargin)),

    // END-TO-END pipeline composition: exact dedup → near-dup cluster
    // dedup → content-hash split → per-split corpus stats. One gate
    // proving the operators COMPOSE (each stage is also gated alone).
    Gate("q_pipeline_e2e", (s, dir) => {
      val docs = t(s, dir, "documents")
      val uniq = TextDedup.exactDedup(docs, "doc_id", "text")
      val pairs = TextDedup.ngramJaccardPairs(uniq, "doc_id", "text",
        shingleLen = 5, threshold = 0.5)
      val kept = graft.ops.Clusters.dedupByPairs(uniq, "doc_id", pairs)
      kept.withColumn("split",
          TextAnalysis.assignSplit(col("doc_id"), trainPct = 0.8,
            validPct = 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    },
      Some("""WITH RECURSIVE uniq AS (
        | SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |d AS (
        | SELECT doc_id, text, n_chars FROM documents
        | WHERE doc_id IN (SELECT doc_id FROM uniq)),
        |sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(1, length(norm) - 4)),
        |    i -> substring(norm, i, 5))) AS s
        | FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |       FROM d)
        | WHERE length(norm) > 0),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b
        |  ON a.doc_id < b.doc_id
        |   AND CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        |       / greatest(len(a.s), len(b.s)) >= 0.5
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (
        | SELECT id_a AS u, id_b AS v FROM pairs
        | UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        | SELECT u, v FROM edges
        | UNION
        | SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
        |  WHERE r.a <> e.v),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cid
        |         FROM reach GROUP BY a),
        |kept AS (
        | SELECT d.doc_id, d.n_chars FROM d LEFT JOIN comp c USING (doc_id)
        | WHERE c.cid IS NULL OR c.cid = d.doc_id)
        |SELECT CASE
        |  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'valid'
        |  ELSE 'test' END AS split,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM kept GROUP BY 1""".stripMargin)),

    // pairs → CLUSTERS: connected components over the near-dup pair
    // graph (alternating large-star/small-star), every doc labeled
    // with its component's min doc_id (self if unpaired) — the step
    // that turns pair-finding into actual deduplication
    // incremental connected components: yesterday's assignment (a
    // star-contracted form of yesterday's graph) plus today's batch of
    // pairs — identical to a full recompute, at batch cost; oracle
    // closes over the FULL pair set
    Gate("q_cc_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleLen = 5, threshold = 0.5).persist()
      val old = pairs.filter((col("id_a") + col("id_b")) % 2 === 0)
      val batch = pairs.filter((col("id_a") + col("id_b")) % 2 =!= 0)
      val assign = graft.ops.Clusters
        .connectedComponents(old, "id_a", "id_b")
      graft.ops.Clusters
        .incrementalComponents(assign, batch, "id_a", "id_b")
    },
      // connected components as a recursive transitive closure — fine at
      // oracle scale (the pair graph is tiny); the Spark side uses
      // large-star/small-star precisely because this closure is NOT the
      // 100 TB answer
      Some("""WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(1, length(norm) - 4)),
        |    i -> substring(norm, i, 5))) AS s
        | FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents)
        | WHERE length(norm) > 0),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b
        |  ON a.doc_id < b.doc_id
        |   AND CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        |       / greatest(len(a.s), len(b.s)) >= 0.5
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (
        | SELECT id_a AS u, id_b AS v FROM pairs
        | UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        | SELECT u, v FROM edges
        | UNION
        | SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
        |  WHERE r.a <> e.v)
        |SELECT a AS id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a""".stripMargin)),

    // dialog-structure audit: per-conversation turn counts, role-
    // alternation violations, opening role — the chat-format
    // validation an SFT corpus runs before templating
    Gate("q_dialog_audit", (s, dir) =>
      TextAnalysis.dialogTurnAudit(
        t(s, dir, "events"), "user_id", "ts", "event_id", "event_type"),
      Some("""WITH s AS (
        | SELECT user_id, event_type AS r,
        |  lag(event_type) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS prev,
        |  row_number() OVER (PARTITION BY user_id
        |                     ORDER BY ts, event_id) AS rn
        | FROM events
        | WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |   AND event_type IS NOT NULL AND event_id IS NOT NULL)
        |SELECT user_id, count(*) AS n_turns,
        | count(CASE WHEN r = prev THEN 1 END) AS n_repeats,
        | max(CASE WHEN rn = 1 THEN r END) AS first_role,
        | count(DISTINCT r) AS n_roles
        |FROM s GROUP BY user_id""".stripMargin)),

    Gate("q_cluster_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleLen = 5, threshold = 0.5)
      val assign = graft.ops.Clusters
        .connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id")).join(assign, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    },
      Some("""WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(1, length(norm) - 4)),
        |    i -> substring(norm, i, 5))) AS s
        | FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents)
        | WHERE length(norm) > 0),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b
        |  ON a.doc_id < b.doc_id
        |   AND CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        |       / greatest(len(a.s), len(b.s)) >= 0.5
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (
        | SELECT id_a AS u, id_b AS v FROM pairs
        | UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        | SELECT u, v FROM edges
        | UNION
        | SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
        |  WHERE r.a <> e.v),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cid
        |         FROM reach GROUP BY a)
        |SELECT d.doc_id AS doc_id, coalesce(c.cid, d.doc_id) AS cluster_id
        |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin)),

    // leakage-proof split: near-dup components assigned to splits as
    // a unit (split key = component representative), so no test doc
    // has a near-duplicate in train — the contamination a row-level
    // hash split cannot prevent
    Gate("q_split_leakproof", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleLen = 5, threshold = 0.5)
      graft.ops.Clusters.leakSafeSplit(
        docs.select(col("doc_id")), "doc_id", pairs,
        trainPct = 0.8, validPct = 0.1)
    },
      // the cluster CTE of q_cluster_dedup + q_data_split's md5 CASE on
      // the component representative: every member of a near-dup
      // cluster draws the same split
      Some("""WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(1, length(norm) - 4)),
        |    i -> substring(norm, i, 5))) AS s
        | FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents)
        | WHERE length(norm) > 0),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b
        |  ON a.doc_id < b.doc_id
        |   AND CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        |       / greatest(len(a.s), len(b.s)) >= 0.5
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (
        | SELECT id_a AS u, id_b AS v FROM pairs
        | UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        | SELECT u, v FROM edges
        | UNION
        | SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
        |  WHERE r.a <> e.v),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cid
        |         FROM reach GROUP BY a),
        |asg AS (
        | SELECT d.doc_id AS doc_id,
        |  coalesce(c.cid, d.doc_id) AS cluster_id
        | FROM documents d LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, cluster_id,
        | CASE
        |  WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'cd'
        |   THEN 'train'
        |  WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6'
        |   THEN 'valid'
        |  ELSE 'test' END AS split
        |FROM asg""".stripMargin)),

    // the audit face of cluster dedup: every dropped doc with its
    // surviving representative — what a reviewer actually reads
    Gate("q_dedup_dropped", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleLen = 5, threshold = 0.5)
      graft.ops.Clusters
        .droppedByPairs(docs.select(col("doc_id")), "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id").as("kept_id"))
    },
      Some("""WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(1, length(norm) - 4)),
        |    i -> substring(norm, i, 5))) AS s
        | FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents)
        | WHERE length(norm) > 0),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b
        |  ON a.doc_id < b.doc_id
        |   AND CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        |       / greatest(len(a.s), len(b.s)) >= 0.5
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (
        | SELECT id_a AS u, id_b AS v FROM pairs
        | UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        | SELECT u, v FROM edges
        | UNION
        | SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
        |  WHERE r.a <> e.v),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cid
        |         FROM reach GROUP BY a)
        |SELECT doc_id, cid AS kept_id FROM comp
        |WHERE cid <> doc_id""".stripMargin)),

    // quality-aware dedup: survivor per near-dup component is the
    // LONGEST doc (n_chars desc, doc_id tiebreak), not the min id
    Gate("q_cluster_dedup_best", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleLen = 5, threshold = 0.5)
      graft.ops.Clusters.dedupByPairsBest(
        docs.select(col("doc_id"), col("n_chars")), "doc_id", pairs,
        Seq(col("n_chars").desc, col("doc_id").asc))
    },
      Some("""WITH RECURSIVE sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(1, length(norm) - 4)),
        |    i -> substring(norm, i, 5))) AS s
        | FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents)
        | WHERE length(norm) > 0),
        |pairs AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a JOIN sh b
        |  ON a.doc_id < b.doc_id
        |   AND CAST(least(len(a.s), len(b.s)) AS DOUBLE)
        |       / greatest(len(a.s), len(b.s)) >= 0.5
        | WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (
        | SELECT id_a AS u, id_b AS v FROM pairs
        | UNION SELECT id_b, id_a FROM pairs),
        |reach(a, b) AS (
        | SELECT u, v FROM edges
        | UNION
        | SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
        |  WHERE r.a <> e.v),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS cid
        |         FROM reach GROUP BY a),
        |assigned AS (
        | SELECT d.doc_id, d.n_chars, coalesce(c.cid, d.doc_id) AS cid
        | FROM documents d LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, n_chars FROM (
        | SELECT doc_id, n_chars, row_number() OVER (PARTITION BY cid
        |   ORDER BY n_chars DESC, doc_id ASC) AS rn
        | FROM assigned)
        |WHERE rn = 1""".stripMargin)),

    // domain blocklist filter: broadcast LEFT ANTI join on the
    // registrable domain — the crawl-exclusion step before any dedup
    Gate("q_blocklist", (s, dir) => {
      import s.implicits._
      val planted = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" see https://sub"),
          (col("doc_id") % 7).cast("string"),
          lit(".example-site.org/p/"), col("doc_id").cast("string"),
          lit(" end"))).otherwise(col("text"))
      val blocked = Seq("sub1.example-site.org", "sub4.example-site.org")
        .toDF("domain")
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.urlParts(planted).getField("domain").as("domain"))
        .join(broadcast(blocked), Seq("domain"), "left_anti")
    },
      Some("""WITH p AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |   text || ' see https://sub' || CAST(doc_id % 7 AS VARCHAR)
        |        || '.example-site.org/p/' || CAST(doc_id AS VARCHAR)
        |        || ' end'
        |  ELSE text END AS t
        | FROM documents)
        |SELECT regexp_extract(t, 'https?://([A-Za-z0-9.-]+)', 1)
        |   AS domain, doc_id
        |FROM p
        |WHERE regexp_extract(t, 'https?://([A-Za-z0-9.-]+)', 1) NOT IN
        | ('sub1.example-site.org', 'sub4.example-site.org')""".stripMargin)),

    // unicode script profile: per-doc character counts by writing
    // system — the script evidence the stopword language vote can't
    // see; exact integers, one narrow pass
    Gate("q_script_profile", (s, dir) =>
      graft.ops.TextAnalysis.scriptProfile(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 2),
        "doc_id", "text"),
      Some("""WITH t AS (
        | SELECT doc_id, coalesce(text, '') AS s FROM documents
        | WHERE doc_id % 7 = 2)
        |SELECT doc_id,
        | CAST(length(s) AS BIGINT) AS n_chars,
        | CAST(length(s) - length(regexp_replace(s, '[A-Za-z]', '', 'g'))
        |      AS BIGINT) AS latin,
        | CAST(length(s) - length(regexp_replace(s, '[0-9]', '', 'g'))
        |      AS BIGINT) AS digit,
        | CAST(length(s) - length(regexp_replace(s, '\s', '', 'g'))
        |      AS BIGINT) AS space,
        | CAST(length(s) - length(regexp_replace(s,
        |      '[\x{4E00}-\x{9FFF}]', '', 'g')) AS BIGINT) AS cjk,
        | CAST(length(s) - length(regexp_replace(s,
        |      '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS cyrillic
        |FROM t""".stripMargin)),

    // feature hashing (signed hashing trick): fixed-dimension sparse
    // vectors with NO vocabulary pass — the streaming-safe featurizer;
    // md5 buckets/signs keep it engine-exact
    Gate("q_feature_hash", (s, dir) =>
      graft.ops.TextAnalysis.hashingVectorize(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0),
        "doc_id", "text", dim = 128),
      Some("""WITH w AS (
        | SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        | FROM documents WHERE doc_id % 3 = 0),
        |f AS (
        | SELECT doc_id,
        |  ('0x' || substr(md5('b:' || term), 1, 8))::BIGINT % 128
        |    AS bucket,
        |  CASE WHEN ('0x' || substr(md5('s:' || term), 1, 1))::BIGINT
        |         % 2 = 0
        |       THEN 1 ELSE -1 END AS s
        | FROM w WHERE term <> '')
        |SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS val
        |FROM f GROUP BY doc_id, bucket""".stripMargin)),

    // DSIR importance weights: per-doc bigram log-likelihood ratio
    // between a target slice (doc_id % 10 = 0) and the raw corpus —
    // the importance-resampling statistic for domain-targeted data
    // selection (Xie et al. 2023)
    Gate("q_dsir", (s, dir) =>
      TextAnalysis.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("doc_id") % 10 === 0, n = 2),
      Some("""WITH g0 AS (
        | SELECT doc_id, (doc_id % 10 = 0) AS t,
        |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    x -> x <> '') AS tk
        | FROM documents),
        |p AS (SELECT doc_id, t, tk,
        |       unnest(generate_series(1, len(tk) - 1)) AS i FROM g0),
        |g AS (SELECT doc_id, t, tk[i] || ' ' || tk[i+1] AS gram FROM p),
        |sc AS (SELECT gram,
        |        sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
        |        sum(CASE WHEN t THEN 0 ELSE 1 END) AS cr
        |       FROM g GROUP BY gram),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
        |         CAST(sum(cr) AS BIGINT) AS nr, count(*) AS v FROM sc),
        |lr AS (SELECT gram,
        |        round(ln((ct + 0.5) / (CAST(nt AS DOUBLE) + 0.5 * v))
        |            - ln((cr + 0.5) / (CAST(nr AS DOUBLE) + 0.5 * v)), 7)
        |          AS lr
        |       FROM sc, tot),
        |dg AS (SELECT doc_id, gram, count(*) AS c FROM g
        |       GROUP BY doc_id, gram),
        |w AS (SELECT dg.doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |        CAST(sum(CAST(c * lr AS DECIMAL(18,6))) AS DOUBLE)
        |          AS weight
        |      FROM dg JOIN lr USING (gram) GROUP BY dg.doc_id)
        |SELECT d.doc_id, coalesce(w.n_grams, 0) AS n_grams,
        | coalesce(w.weight, 0.0) AS weight
        |FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id""".stripMargin)),

    // word-repetition quality metrics (Gopher-style filter inputs)
    Gate("q_repetition", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionMetrics(col("text")).as("m"))
        .select(col("doc_id"), col("m.n_words").as("n_words"),
          col("m.dup_word_frac").as("dup_word_frac"),
          col("m.top_bigram_frac").as("top_bigram_frac")),
      Some("""WITH w AS (
        | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
        | FROM documents),
        |b AS (
        | SELECT doc_id, words, len(words) AS n,
        |  CASE WHEN len(words) >= 2 THEN
        |   list_transform(generate_series(1, len(words) - 1),
        |     i -> words[i] || ' ' || words[i+1])
        |  ELSE [] END AS grams
        | FROM w)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_words,
        | 1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / n AS dup_word_frac,
        | CASE WHEN n < 2 THEN 0.0 ELSE
        |  CAST(list_max(list_transform(grams,
        |        x -> len(list_filter(grams, y -> y = x)))) AS DOUBLE) / (n - 1)
        | END AS top_bigram_frac
        |FROM b""".stripMargin)),

    // Gopher document-quality rules: the published MassiveWeb metric
    // set + keep/drop CASE in one narrow pass. Symbol/bullet/ellipsis
    // structure is planted deterministically (the fixture text has
    // none) so every rule fires on some doc
    Gate("q_gopher_rules", (s, dir) => {
      val planted = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" ### tail trails off ..."),
            lit("\n- bullet one\n- bullet two")))
        .when(col("doc_id") % 7 === 1,
          concat(col("text"), lit("\nshort trailing thought …")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), planted.as("t2"))
        .select(col("doc_id"),
          TextAnalysis.gopherMetrics(col("t2")).as("m"))
        .select(col("doc_id"), col("m.n_words").as("n_words"),
          col("m.mean_word_len").as("mean_word_len"),
          col("m.frac_alpha_words").as("frac_alpha_words"),
          col("m.symbol_ratio").as("symbol_ratio"),
          col("m.frac_bullet_lines").as("frac_bullet_lines"),
          col("m.frac_ellipsis_lines").as("frac_ellipsis_lines"),
          col("m.n_stopwords").as("n_stopwords"),
          TextAnalysis.gopherPass(col("m"), minWords = 20,
            minStopwords = 1).as("keep"))
    },
      // mirrors gopherMetrics + gopherPass on the same planted text:
      // every count is reconstructed (words, alpha words, #/.../…
      // symbols, bullet and ellipsis lines, stopword presence) and the
      // keep CASE compares the identical rounded doubles
      Some("""WITH p AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text || ' ### tail trails off ...'
        |         || chr(10) || '- bullet one' || chr(10) || '- bullet two'
        |       WHEN doc_id % 7 = 1 THEN text || chr(10)
        |         || 'short trailing thought …'
        |       ELSE text END AS t2
        | FROM documents),
        |m AS (
        | SELECT doc_id, trim(t2) AS t,
        |  string_split_regex(trim(t2), '\s+') AS words,
        |  string_split(t2, chr(10)) AS lines
        | FROM p),
        |x AS (
        | SELECT doc_id, len(words) AS n,
        |  list_sum(list_transform(words, w -> length(w))) AS sum_len,
        |  len(list_filter(words,
        |    w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        |  length(t) - length(replace(t, '#', '')) AS n_hash,
        |  (length(t) - length(replace(t, '...', ''))) // 3 AS n_dots,
        |  length(t) - length(replace(t, '…', '')) AS n_ell,
        |  len(lines) AS n_lines,
        |  len(list_filter(lines,
        |    l -> regexp_matches(trim(l), '^[-*•]'))) AS n_bullet,
        |  len(list_filter(lines,
        |    l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS n_elll,
        |  len(list_filter(['the','be','to','of','and','that','have','with'],
        |    sw -> list_contains(list_transform(words, w -> lower(w)),
        |      sw))) AS n_stop
        | FROM m)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_words,
        | round(sum_len / n, 4) AS mean_word_len,
        | round(n_alpha / n, 4) AS frac_alpha_words,
        | round((n_hash + n_dots + n_ell) / n, 4) AS symbol_ratio,
        | round(n_bullet / n_lines, 4) AS frac_bullet_lines,
        | round(n_elll / n_lines, 4) AS frac_ellipsis_lines,
        | CAST(n_stop AS INTEGER) AS n_stopwords,
        | (n >= 20 AND n <= 100000
        |  AND round(sum_len / n, 4) >= 3.0 AND round(sum_len / n, 4) <= 10.0
        |  AND round((n_hash + n_dots + n_ell) / n, 4) < 0.1
        |  AND round(n_alpha / n, 4) >= 0.8
        |  AND round(n_bullet / n_lines, 4) < 0.9
        |  AND round(n_elll / n_lines, 4) < 0.3
        |  AND n_stop >= 1) AS keep
        |FROM x""".stripMargin)),

    // intra-doc line dedup + Gopher duplicate-line metrics: repeated
    // boilerplate lines planted (a nav/footer string twice, and the
    // whole body repeated for doc_id%3==0), first occurrence kept
    Gate("q_line_dedup", (s, dir) => {
      val t2 = concat_ws("\n", col("text"),
        lit("subscribe to our newsletter"),
        substring(col("text"), 1, 25),
        lit("subscribe to our newsletter"),
        when(col("doc_id") % 3 === 0, col("text"))
          .otherwise(concat(lit("closing line for doc "),
            col("doc_id").cast("string"))))
      TextAnalysis.dedupLinesWithMetrics(
        t(s, dir, "documents").select(col("doc_id"), t2.as("text")),
        "doc_id", "text")
    },
      // mirrors dedupLinesWithMetrics: keep-first via 1-based
      // list_position == index, both fractions as int/int divisions
      Some("""WITH p AS (
        | SELECT doc_id,
        |  text || chr(10) || 'subscribe to our newsletter' || chr(10)
        |   || substring(text, 1, 25) || chr(10)
        |   || 'subscribe to our newsletter' || chr(10)
        |   || CASE WHEN doc_id % 3 = 0 THEN text
        |      ELSE 'closing line for doc ' || CAST(doc_id AS VARCHAR)
        |      END AS t2
        | FROM documents),
        |l AS (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM p),
        |f AS (
        | SELECT doc_id, ls,
        |  list_filter(list_transform(ls, (x, i) -> {'l': x, 'i': i}),
        |    s -> list_position(ls, s.l) = s.i) AS fs
        | FROM l)
        |SELECT doc_id,
        | array_to_string(list_transform(fs, s -> s.l), chr(10)) AS text,
        | CAST(len(ls) AS INTEGER) AS n_lines,
        | round((len(ls) - len(fs)) / len(ls), 4) AS dup_line_frac,
        | CASE WHEN list_sum(list_transform(ls, x -> length(x))) = 0
        |  THEN 0.0
        |  ELSE round((list_sum(list_transform(ls, x -> length(x)))
        |    - list_sum(list_transform(fs, s -> length(s.l))))
        |    / list_sum(list_transform(ls, x -> length(x))), 4)
        |  END AS dup_char_frac
        |FROM f""".stripMargin)),

    // corpus Zipf / type-token profile: rank-frequency slope over the
    // top-200 terms + TTR, one row
    Gate("q_zipf", (s, dir) =>
      TextAnalysis.zipfStats(t(s, dir, "documents"), "text", topN = 200),
      // mirrors zipfStats: round-12 ln points in rank order, sequential
      // list folds, one fixed IEEE slope expression
      Some("""WITH tok AS (
        | SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |   '\s+'), x -> x <> '')) AS t
        | FROM documents),
        |c AS (SELECT t, count(*) AS n FROM tok GROUP BY 1),
        |tot AS (
        | SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types
        | FROM c),
        |top AS (
        | SELECT n, row_number() OVER (ORDER BY n DESC, t ASC) AS r
        | FROM c ORDER BY n DESC, t ASC LIMIT 200),
        |ls AS (
        | SELECT list(round(ln(r), 12) ORDER BY r) AS xs,
        |  list(round(ln(n), 12) ORDER BY r) AS ys,
        |  count(*) AS m
        | FROM top),
        |s AS (
        | SELECT m,
        |  list_aggregate(xs, 'sum') AS sx,
        |  list_aggregate(ys, 'sum') AS sy,
        |  list_aggregate(list_transform(generate_series(1, m),
        |    i -> xs[i] * ys[i]), 'sum') AS sxy,
        |  list_aggregate(list_transform(xs, x -> x * x), 'sum') AS sxx
        | FROM ls)
        |SELECT n_tokens, n_types, round(n_types / n_tokens, 6) AS ttr,
        | round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS zipf_slope
        |FROM tot, s""".stripMargin)),

    // vocabulary coverage: per-doc OOV rate under the corpus top-500
    // term vocab (ties broken term-asc on both engines)
    Gate("q_vocab_coverage", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextAnalysis.buildVocab(docs, "text", maxSize = 500)
        .map(_._1).toSeq
      TextAnalysis.vocabCoverage(docs, "doc_id", "text", vocab)
    },
      // mirrors vocabCoverage: same tokenization, top-500 by
      // (count desc, term asc), left join, int/int rate
      Some("""WITH tok AS (
        | SELECT doc_id,
        |  unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '\s+'), x -> x <> '')) AS tk
        | FROM documents),
        |v AS (
        | SELECT term FROM (
        |  SELECT tk AS term, count(*) AS n FROM tok GROUP BY 1
        |  ORDER BY n DESC, term ASC LIMIT 500)),
        |a AS (
        | SELECT t.doc_id AS doc_id, CAST(count(*) AS INTEGER) AS n_tokens,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |    AS INTEGER) AS n_oov
        | FROM tok t LEFT JOIN v ON t.tk = v.term GROUP BY 1)
        |SELECT d.doc_id AS doc_id, coalesce(n_tokens, 0) AS n_tokens,
        | coalesce(n_oov, 0) AS n_oov,
        | CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
        |  ELSE round(coalesce(n_oov, 0) / n_tokens, 6) END AS oov_rate
        |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin)),

    // clipped n-gram overlap (ROUGE-2 / BLEU-2 with clipping) between
    // adjacent-doc pairs; the reference is seeded with the candidate's
    // first 80 chars so every pair has real partial overlap
    Gate("q_ngram_overlap", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val pairs = d.as("a")
        .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"), col("a.text").as("cand"),
          concat(substring(col("a.text"), 1, 80), lit(" "),
            col("b.text")).as("ref"))
      TextAnalysis.ngramOverlap(pairs, "doc_id", "cand", "ref", n = 2)
    },
      // mirrors ngramOverlap: same tokenization, bigrams by position,
      // clipped multiset intersection via least() over grouped counts,
      // F1 composed from the unrounded IEEE ratios
      Some("""WITH pr AS (
        | SELECT a.doc_id AS doc_id, a.text AS cand,
        |  substring(a.text, 1, 80) || ' ' || b.text AS ref
        | FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        |tk AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(cand)), '\s+'),
        |    x -> x <> '') AS ct,
        |  list_filter(string_split_regex(lower(trim(ref)), '\s+'),
        |    x -> x <> '') AS rt
        | FROM pr),
        |cg AS (
        | SELECT doc_id, ct[i] || ' ' || ct[i + 1] AS g
        | FROM (SELECT doc_id, ct,
        |   CAST(unnest(generate_series(1, len(ct) - 1)) AS BIGINT) AS i
        |  FROM tk)),
        |rg AS (
        | SELECT doc_id, rt[i] || ' ' || rt[i + 1] AS g
        | FROM (SELECT doc_id, rt,
        |   CAST(unnest(generate_series(1, len(rt) - 1)) AS BIGINT) AS i
        |  FROM tk)),
        |cc AS (SELECT doc_id, g, count(*) AS c FROM cg GROUP BY 1, 2),
        |rc AS (SELECT doc_id, g, count(*) AS r FROM rg GROUP BY 1, 2),
        |ov AS (
        | SELECT cc.doc_id AS doc_id,
        |  CAST(sum(least(c, r)) AS INTEGER) AS ovl
        | FROM cc JOIN rc ON cc.doc_id = rc.doc_id AND cc.g = rc.g
        | GROUP BY 1),
        |tot AS (
        | SELECT doc_id,
        |  CAST(greatest(len(ct) - 1, 0) AS INTEGER) AS n_cand,
        |  CAST(greatest(len(rt) - 1, 0) AS INTEGER) AS n_ref
        | FROM tk)
        |SELECT t.doc_id AS doc_id, n_cand, n_ref,
        | coalesce(ovl, 0) AS overlap,
        | CASE WHEN n_cand = 0 THEN 0.0
        |  ELSE round(coalesce(ovl, 0) / n_cand, 6) END AS "precision",
        | CASE WHEN n_ref = 0 THEN 0.0
        |  ELSE round(coalesce(ovl, 0) / n_ref, 6) END AS recall,
        | CASE WHEN coalesce(ovl, 0) = 0 THEN 0.0
        |  ELSE round(2 * (coalesce(ovl, 0) / n_cand)
        |    * (coalesce(ovl, 0) / n_ref)
        |    / (coalesce(ovl, 0) / n_cand + coalesce(ovl, 0) / n_ref), 6)
        |  END AS f1
        |FROM tot t LEFT JOIN ov USING (doc_id)""".stripMargin)),

    // CROSS-corpus boilerplate strip (C4's corpus-wide line removal):
    // lines whose trimmed form appears in >=20 distinct docs drop
    // everywhere. Planted: a banner in every doc, an indented banner
    // variant (trim-matched), a half-corpus cookie line, and per-doc
    // unique footer/closing lines that must survive
    Gate("q_boilerplate", (s, dir) => {
      val t2 = concat_ws("\n", col("text"),
        lit("subscribe to our newsletter"),
        when(col("doc_id") % 2 === 0, lit("  cookie consent required"))
          .otherwise(concat(lit("footer for doc "),
            col("doc_id").cast("string"))),
        lit("   subscribe to our newsletter"),
        concat(lit("closing line for doc "), col("doc_id").cast("string")))
      TextAnalysis.stripBoilerplate(
        t(s, dir, "documents").select(col("doc_id"), t2.as("text")),
        "doc_id", "text", minDocs = 20)
    },
      // mirrors stripBoilerplate on the same planted lines: distinct
      // (doc, trimmed line) evidence, >=20-doc bar, anti-join strip,
      // ORDER BY pos reassembly
      Some("""WITH p AS (
        | SELECT doc_id,
        |  text || chr(10) || 'subscribe to our newsletter' || chr(10)
        |   || CASE WHEN doc_id % 2 = 0 THEN '  cookie consent required'
        |      ELSE 'footer for doc ' || CAST(doc_id AS VARCHAR) END
        |   || chr(10) || '   subscribe to our newsletter' || chr(10)
        |   || 'closing line for doc ' || CAST(doc_id AS VARCHAR) AS t2
        | FROM documents),
        |l AS (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM p),
        |x AS (
        | SELECT doc_id, ls[i + 1] AS line, i AS pos
        | FROM (SELECT doc_id, ls,
        |   CAST(unnest(generate_series(0, len(ls) - 1)) AS BIGINT) AS i
        |  FROM l)),
        |bl AS (
        | SELECT trim(line) AS t FROM x WHERE trim(line) <> ''
        | GROUP BY 1 HAVING count(DISTINCT doc_id) >= 20),
        |k AS (SELECT doc_id, pos, line FROM x
        |      WHERE trim(line) NOT IN (SELECT t FROM bl)),
        |r AS (
        | SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |  count(*) AS kept
        | FROM k GROUP BY 1)
        |SELECT p.doc_id AS doc_id, coalesce(r.text, '') AS text,
        | CAST(len(l.ls) AS INTEGER) AS n_lines,
        | CAST(len(l.ls) - coalesce(r.kept, 0) AS INTEGER) AS n_removed
        |FROM p JOIN l USING (doc_id) LEFT JOIN r USING (doc_id)""".stripMargin)),

    // character-distribution entropy (bits/char): the cheap gibberish
    // detector — explode collapses map-side to docs×alphabet rows,
    // p·log2(p) through the round-12 DECIMAL sum
    Gate("q_char_entropy", (s, dir) =>
      TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id",
        "text"),
      // mirrors charEntropy: same grouped counts, p·log2(p) rounded to
      // 12 through an order-free DECIMAL sum, entropy rounded to 6
      Some("""WITH c AS (
        | SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
        | FROM documents),
        |cf AS (SELECT doc_id, ch, count(*) AS k FROM c
        |       WHERE ch <> '' GROUP BY 1, 2),
        |n AS (SELECT doc_id, sum(k) AS n FROM cf GROUP BY 1)
        |SELECT cf.doc_id AS doc_id, CAST(n.n AS BIGINT) AS n_chars_counted,
        | round(-CAST(sum(CAST(round((k / n.n) * log2(k / n.n), 12)
        |   AS DECIMAL(20,12))) AS DOUBLE), 6) AS entropy
        |FROM cf JOIN n USING (doc_id) GROUP BY 1, 2""".stripMargin)),

    // C4 line/document cleaning: the published line rules (terminal
    // punctuation, >=5 words, no "javascript") + document rules
    // ("lorem ipsum", '{', >=3 surviving lines). The fixture text is
    // single-line and unpunctuated, so the gate builds a deterministic
    // 5-line document around it: 3 clean sentences, 1 short line, 1
    // unpunctuated line, with javascript/lorem planted by doc_id mod —
    // every rule fires, and the oracle reconstructs the same lines
    Gate("q_c4_filter", (s, dir) => {
      val line1 = concat(lit("The opening sentence keeps "),
        substring(col("text"), 1, 30), lit(" going fine."))
      val line4 = when(col("doc_id") % 7 === 0,
        lit("This javascript line would pollute the corpus badly."))
        .otherwise(lit("Another clean sentence with enough words here!"))
      val line5 = when(col("doc_id") % 11 === 0,
        lit("Lorem ipsum dolor sit amet forever."))
        .otherwise(concat(lit("Closing thoughts from source "),
          col("source"), lit(" wrap this up?")))
      val t2 = concat_ws("\n", line1, lit("too short"),
        lit("unpunctuated line with plenty of words present"),
        line4, line5)
      TextAnalysis.c4Filter(
        t(s, dir, "documents").select(col("doc_id"), t2.as("text")),
        "doc_id", "text", minLineWords = 5, minLines = 3)
    },
      // mirrors c4Filter on the same 5 planted lines: line rules
      // (terminal punct, >=5 words, no "javascript"), then the document
      // rules on the assembled text ('lorem ipsum', '{', >=3 kept)
      Some("""WITH p AS (
        | SELECT doc_id,
        |  'The opening sentence keeps ' || substring(text, 1, 30)
        |    || ' going fine.' || chr(10) || 'too short' || chr(10)
        |    || 'unpunctuated line with plenty of words present'
        |    || chr(10)
        |    || CASE WHEN doc_id % 7 = 0
        |       THEN 'This javascript line would pollute the corpus badly.'
        |       ELSE 'Another clean sentence with enough words here!' END
        |    || chr(10)
        |    || CASE WHEN doc_id % 11 = 0
        |       THEN 'Lorem ipsum dolor sit amet forever.'
        |       ELSE 'Closing thoughts from source ' || source
        |         || ' wrap this up?' END AS t2
        | FROM documents),
        |k AS (
        | SELECT doc_id, t2,
        |  list_filter(string_split(t2, chr(10)),
        |   l -> regexp_matches(trim(l), '[.!?"]$')
        |    AND len(string_split_regex(trim(l), '\s+')) >= 5
        |    AND NOT contains(lower(trim(l)), 'javascript')) AS kept,
        |  len(string_split(t2, chr(10))) AS n_lines
        | FROM p)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS text,
        | CAST(len(kept) AS INTEGER) AS n_lines_kept,
        | CAST(n_lines - len(kept) AS INTEGER) AS n_lines_dropped
        |FROM k
        |WHERE NOT contains(lower(t2), 'lorem ipsum')
        | AND NOT contains(t2, '{')
        | AND len(kept) >= 3""".stripMargin)),

    // benchmark-contamination check: per held-out doc, max shingle
    // containment against the training corpus
    Gate("q_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      TextDedup.contaminationScores(
        d.filter(col("doc_id") % 5 === 0),
        d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", shingleLen = 5, threshold = 0.5)
    },
      Some("""WITH sh AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, greatest(1, length(norm) - 4)),
        |    i -> substring(norm, i, 5))) AS s
        | FROM (SELECT doc_id,
        |        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |       FROM documents)
        | WHERE length(norm) > 0),
        |te AS (SELECT doc_id, s FROM sh WHERE doc_id % 5 = 0),
        |tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 5 <> 0),
        |p AS (
        | SELECT te.doc_id AS test_id,
        |  CAST(len(list_intersect(te.s, tr.s)) AS DOUBLE) / len(te.s) AS c
        | FROM te, tr)
        |SELECT test_id, max(c) AS max_containment,
        |       max(c) >= 0.5 AS contaminated
        |FROM p GROUP BY test_id""".stripMargin)),

    // span-level contamination forensics: WHERE in each test doc the
    // leaked shingles sit, per qualifying (test, train) pair
    Gate("q_contamination_spans", (s, dir) => {
      val d = t(s, dir, "documents")
      TextDedup.contaminationSpans(
        d.filter(col("doc_id") % 5 === 0),
        d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", shingleLen = 5, threshold = 0.5)
    },
      Some("""WITH tn AS (
        | SELECT doc_id AS test_id, norm FROM (
        |   SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |   FROM documents WHERE doc_id % 5 = 0)
        | WHERE length(norm) > 0),
        |rn AS (
        | SELECT doc_id AS train_id, norm FROM (
        |   SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
        |   FROM documents WHERE doc_id % 5 <> 0)
        | WHERE length(norm) > 0),
        |tpos AS (
        | SELECT test_id, pos, substring(norm, pos, 5) AS g FROM (
        |   SELECT test_id, norm,
        |     unnest(generate_series(1, greatest(1, length(norm) - 4))) AS pos
        |   FROM tn)),
        |tcnt AS (SELECT test_id, count(DISTINCT g) AS tn_cnt
        |         FROM tpos GROUP BY test_id),
        |rset AS (
        | SELECT DISTINCT train_id, g FROM (
        |   SELECT train_id, substring(norm, pos, 5) AS g FROM (
        |     SELECT train_id, norm,
        |       unnest(generate_series(1, greatest(1, length(norm) - 4))) AS pos
        |     FROM rn))),
        |m AS (
        | SELECT t.test_id, r.train_id, t.g, t.pos
        | FROM tpos t JOIN rset r ON t.g = r.g),
        |p AS (
        | SELECT test_id, train_id, count(DISTINCT g) AS n_shared,
        |        min(pos) AS span_start, max(pos) + 4 AS span_end
        | FROM m GROUP BY test_id, train_id)
        |SELECT p.test_id, p.train_id, CAST(p.n_shared AS BIGINT) AS n_shared,
        | CAST(p.n_shared AS DOUBLE) / c.tn_cnt AS containment,
        | CAST(p.span_start AS BIGINT) AS span_start,
        | CAST(p.span_end AS BIGINT) AS span_end
        |FROM p JOIN tcnt c USING (test_id)
        |WHERE CAST(p.n_shared AS DOUBLE) / c.tn_cnt >= 0.5""".stripMargin)),

    // PII scrubbing: plant synthetic emails/SSNs/phones, redact with
    // the typed placeholders, report per-doc whether anything changed
    Gate("q_redact_pii", (s, dir) => {
      val planted = when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com now")))
        .when(col("doc_id") % 5 === 1,
          concat(col("text"), lit(" ssn 123-45-6789 end")))
        .when(col("doc_id") % 5 === 2,
          concat(col("text"), lit(" call 555-123-4567 today")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), planted.as("__planted"))
        .select(col("doc_id"),
          TextAnalysis.redactPii(col("__planted")).as("clean"),
          (TextAnalysis.redactPii(col("__planted")) =!= col("__planted"))
            .as("was_redacted"))
    },
      Some("""WITH p AS (
        | SELECT doc_id,
        |  CASE
        |   WHEN doc_id % 5 = 0 THEN text || ' contact user' ||
        |     CAST(doc_id AS VARCHAR) || '@example.com now'
        |   WHEN doc_id % 5 = 1 THEN text || ' ssn 123-45-6789 end'
        |   WHEN doc_id % 5 = 2 THEN text || ' call 555-123-4567 today'
        |   ELSE text END AS planted
        | FROM documents),
        |r AS (
        | SELECT doc_id, planted,
        |  regexp_replace(regexp_replace(regexp_replace(planted,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS clean
        | FROM p)
        |SELECT doc_id, clean, clean <> planted AS was_redacted FROM r""".stripMargin)),

    // deterministic content-hash train/valid/test split — stable across
    // runs, row order, and cluster size; per-split counts + value sums
    Gate("q_data_split", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("split",
          TextAnalysis.assignSplit(col("doc_id"), trainPct = 0.8,
            validPct = 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars")),
      Some("""SELECT CASE
        |  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'valid'
        |  ELSE 'test' END AS split,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin)),

    // corpus-wide word-bigram frequencies, top-k with deterministic
    // tiebreak — the n-gram language-statistics pass of a training-data
    // pipeline (exercises wordShingles end to end)
    Gate("q_word_ngrams", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextDedup.wordShingles(col("text"), 2)).as("gram"))
        .filter(col("gram") =!= "")
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("gram").asc)
        .limit(20),
      Some("""WITH w AS (
        | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
        | FROM documents),
        |g AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(
        |    generate_series(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1])) AS grams
        | FROM w WHERE len(words) >= 2),
        |e AS (SELECT doc_id, unnest(grams) AS gram FROM g)
        |SELECT gram, count(*) AS n_docs FROM e WHERE gram <> ''
        |GROUP BY gram ORDER BY n_docs DESC, gram ASC LIMIT 20""".stripMargin)),

    // top-k TF-IDF terms per document (deterministic, log-free idf —
    // see TextAnalysis.tfIdfTopK for the bit-stability argument)
    Gate("q_tfidf", (s, dir) =>
      TextAnalysis.tfIdfTopK(t(s, dir, "documents")
          .filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 5),
      Some("""WITH w AS (
        | SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        | FROM documents WHERE doc_id % 10 = 0),
        |tfx AS (
        | SELECT doc_id, term, count(*) AS tf FROM w
        | WHERE term <> '' GROUP BY doc_id, term),
        |dfx AS (SELECT term, count(*) AS df FROM tfx GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents
        |      WHERE doc_id % 10 = 0),
        |scored AS (
        | SELECT t.doc_id, t.term, t.tf, d.df,
        |  CAST(t.tf AS DOUBLE) * n.n_docs / d.df AS score
        | FROM tfx t JOIN dfx d USING (term) CROSS JOIN n),
        |r AS (
        | SELECT *, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
        | FROM scored)
        |SELECT doc_id, term, tf, df, score FROM r WHERE rk <= 5""".stripMargin)),

    // SimHash near-dup — oracled: the FastHash kernel is replayed in
    // DuckDB HUGEINT arithmetic (the oracle below)
    Gate("q_simhash", (s, dir) =>
      TextDedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 12),
      Some("""WITH toks AS (
        | SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |f AS (SELECT doc_id, CAST(list_reduce(
        |   list_prepend(14695981039346656037::HUGEINT,
        |     list_transform(generate_series(1, length(tok)),
        |       i -> unicode(substr(tok, i, 1))::HUGEINT)),
        |   (h, c) -> (xor(h::UBIGINT, c::UBIGINT)::HUGEINT
        |              * 1099511628211) % 18446744073709551616)
        |  AS UBIGINT) AS h1
        | FROM toks),
        |s1 AS (SELECT doc_id, xor(h1, h1 >> 33) AS a FROM f),
        |s2 AS (SELECT doc_id, CAST((((a % 4294967296)::HUGEINT
        |  * 18397679294719823053) + (((a // 4294967296)::HUGEINT
        |  * (18397679294719823053 % 4294967296)) % 4294967296)
        |  * 4294967296) % 18446744073709551616 AS UBIGINT) AS b
        | FROM s1),
        |s3 AS (SELECT doc_id, xor(b, b >> 33) AS c FROM s2),
        |s4 AS (SELECT doc_id, CAST((((c % 4294967296)::HUGEINT
        |  * 14181476777654086739) + (((c // 4294967296)::HUGEINT
        |  * (14181476777654086739 % 4294967296)) % 4294967296)
        |  * 4294967296) % 18446744073709551616 AS UBIGINT) AS d
        | FROM s3),
        |th AS (SELECT doc_id, xor(d, d >> 33) AS h FROM s4),
        |bits AS (
        | SELECT doc_id, b,
        |  SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        | FROM th, (SELECT unnest(generate_series(0, 63)) AS b)
        | GROUP BY doc_id, b),
        |sigs AS (
        | SELECT doc_id,
        |  SUM(CASE WHEN s > 0 THEN (1::UBIGINT << b)
        |      ELSE 0::UBIGINT END) AS sig
        | FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 12""".stripMargin)),

    // trainable quality classifier on heuristic weak labels — the
    // fastText-shaped self-training loop (hashed uni+bigram features,
    // one treeAggregate per epoch, driver holds only the weight
    // vector). ORACLED since r11: the epoch gradient accumulates
    // order-free quantized longs, so the trained weights — and the
    // prediction set — are a pure function of fixture content
    // (bit-identical across layouts, PqPinSpec). The oracle
    // RECOMPUTES weak_label in SQL (the proven-exact qualityScore
    // replay) and pins the prediction set as constants (float
    // training has no SQL recompute); the gate output drops the raw
    // probability so no float crosses the boundary. Separability
    // still asserted in OpsSpec.
    Gate("q_quality_classifier", (s, dir) => {
      val labeled = t(s, dir, "documents").select(col("doc_id"), col("text"),
        (TextAnalysis.qualityScore(col("text")) >= 0.9).cast("int")
          .as("weak_label"))
      val model = QualityClassifier.train(labeled, "text", "weak_label",
        dim = 4096, epochs = 8, lr = 4.0)
      QualityClassifier.score(labeled, "doc_id", "text", model)
        .join(labeled.select(col("doc_id"), col("weak_label")), "doc_id")
        .select(col("doc_id"), col("quality_pred"), col("weak_label"))
    },
      // weak labels recomputed independently (the qualityScore replay),
      // predictions from the pinned negative set (quantized-gradient
      // training is a pure function of content — see
      // QualityClassifierPred0 / PqPinSpec)
      // Oracle for `q_quality_classifier`: weak_label recomputed in SQL
      // (the qualityScore replay — same expression tree the hash-exact
      // profile/domain gates already prove), prediction from the pinned
      // negative set. KEEP THE SUB-SCORE SQL IN LOCKSTEP with
      // [[textProfileOracle]] and [[domainStatsOracle]] — the three
      // hand-written replays of TextAnalysis.qualityScore must change
      // together or exactly one gate's hash breaks.
      Some {
        val stops = graft.ops.TextAnalysis.StopwordLists.head._2
          .map(w => s"'$w'").mkString(",")
        val pred0 = QualityClassifierPred0.mkString(",")
        s"""WITH f AS (
           | SELECT doc_id,
           |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
           |       ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+'))
           |  END AS n_toks,
           |  length(regexp_replace(trim(text), '\\s+', '', 'g')) AS n_nospace,
           |  length(text) - length(regexp_replace(text, '[.,!?;:()"'']', '', 'g'))
           |    AS n_punct,
           |  length(text) AS n_chars,
           |  len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
           |    t -> list_contains([$stops], t))) AS stop_hits
           | FROM documents),
           |q AS (
           | SELECT doc_id,
           |  round(least(CAST(n_toks AS DOUBLE) / 20.0, 1.0) * 0.4
           |   + (CASE WHEN (CASE WHEN n_toks > 0
           |        THEN CAST(n_nospace AS DOUBLE) / n_toks ELSE 0.0 END)
           |        BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) * 0.2
           |   + (1.0 - least((CASE WHEN n_chars > 0
           |        THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END)
           |        * 4.0, 1.0)) * 0.2
           |   + (CASE WHEN CAST(stop_hits AS DOUBLE)
           |        / greatest(CAST(n_toks AS DOUBLE), 1.0) >= 0.01
           |        THEN 1.0 ELSE 0.5 END) * 0.2, 4) AS quality
           | FROM f)
           |SELECT doc_id,
           |  CASE WHEN doc_id IN ($pred0) THEN 0 ELSE 1 END AS quality_pred,
           |  CAST(quality >= 0.9 AS INT) AS weak_label
           |FROM q""".stripMargin
      }),

    // per-document text analysis profile
    Gate("q_text_profile", (s, dir) =>
      TextAnalysis.profile(t(s, dir, "documents"), "doc_id", "text"),
      // q_text_profile oracle — mirrors TextAnalysis.profile expression by
      // expression (same normalization, same fold order, same rounding).
      Some {
        val stopword = (words: Seq[String]) =>
          s"len(list_filter(toks, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t)))"
        val langs = TextAnalysis.StopwordLists
        val n = langs.size
        val scoreDefs = langs.zipWithIndex.map { case ((lang, words), i) =>
          s"${stopword(words)} * 8 + ${n - i} AS s_$lang"
        }.mkString(", ")
        val bestExpr = langs.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
        val langCase = langs.map { case (lang, _) =>
          s"WHEN s_$lang = best THEN '$lang'"
        }.mkString(" ")
        val allZero = langs.map(l => s"s_${l._1} <= $n").mkString(" AND ")
        s"""WITH base AS (
           | SELECT doc_id, text,
           |  lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm,
           |  regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
           | FROM documents),
           |counts AS (
           | SELECT doc_id, text, norm, toks,
           |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0 ELSE len(toks) END AS n_tokens,
           |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subwords,
           |  length(text) - length(regexp_replace(text, '[.,!?;:()"'']', '', 'g')) AS n_punct,
           |  $scoreDefs
           | FROM base),
           |feat AS (
           | SELECT doc_id, length(text) AS n_chars, n_tokens, n_subwords,
           |  CASE WHEN n_tokens > 0 THEN
           |    round(CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / n_tokens, 4)
           |  ELSE 0.0 END AS mean_token_len,
           |  CASE WHEN length(text) > 0 THEN
           |    round(CAST(n_punct AS DOUBLE) / length(text), 4)
           |  ELSE 0.0 END AS punct_ratio,
           |  $bestExpr AS best, $allZero AS all_zero,
           |  ${langs.map(l => s"s_${l._1}").mkString(", ")},
           |  CASE WHEN n_tokens > 0
           |   THEN CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE) / n_tokens
           |   ELSE 0.0 END AS mtl_raw,
           |  CASE WHEN length(text) > 0
           |   THEN CAST(n_punct AS DOUBLE) / length(text) ELSE 0.0 END AS pr_raw,
           |  ${stopword(langs.head._2)} AS en_hits, toks, norm, text
           | FROM counts),
           |quality AS (
           | SELECT *,
           |  least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) AS len_score,
           |  CASE WHEN mtl_raw >= 3 AND mtl_raw <= 10 THEN 1.0 ELSE 0.5 END AS shape_score,
           |  1.0 - least(pr_raw * 4.0, 1.0) AS punct_score,
           |  CASE WHEN CAST(en_hits AS DOUBLE) /
           |        greatest(CAST(n_tokens AS DOUBLE), 1.0) >= 0.01
           |       THEN 1.0 ELSE 0.5 END AS stop_score
           | FROM feat)
           |SELECT doc_id, n_chars, n_tokens, n_subwords, mean_token_len, punct_ratio,
           | CASE WHEN all_zero THEN 'unknown' $langCase ELSE 'unknown' END AS lang_pred,
           | round(len_score * 0.4 + shape_score * 0.2 + punct_score * 0.2
           |       + stop_score * 0.2, 4) AS quality,
           | CASE WHEN length(norm) = 0 THEN NULL ELSE
           |  list_min(list_transform(
           |    generate_series(1, greatest(1, length(norm) - 7)),
           |    i -> md5(substring(norm, i, 8)))) END AS fingerprint
           |FROM quality""".stripMargin
      })
  )
}
