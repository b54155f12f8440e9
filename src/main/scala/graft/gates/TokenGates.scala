package graft
package gates

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis

/** Tokenizers, language models and training-set assembly: BPE,
  * WordPiece and unigram trainers and encoders, n-gram LMs, token
  * budgets and mixtures, shuffles, shards and sequence packing. */
object TokenGates {
  import Gate.t

  /** Pinned ranked BPE merge table for `q_bpe_encode` — the
    * [[PinnedUnigramVocab]] discipline applied to the other subword
    * family: a FIXED table makes the greedy merge loop deterministic
    * and data-independent, so the encode gate oracles exactly while
    * q_bpe_train keeps the trainer covered. Chained entries (th→the,
    * jo+in→join, sp+ar+k→spark) exercise multi-level merging on the
    * fixture's vocabulary. Counts are carried for the API shape only —
    * [[graft.ops.TextAnalysis.applyBpe]] reads ranks alone. */
  private val PinnedBpeMerges: Array[(Int, String, String, Long)] = Array(
    (0, "t", "h", 0L), (1, "th", "e", 0L), (2, "i", "n", 0L),
    (3, "e", "r", 0L), (4, "a", "n", 0L), (5, "o", "n", 0L),
    (6, "r", "e", 0L), (7, "s", "t", 0L), (8, "a", "t", 0L),
    (9, "e", "n", 0L), (10, "o", "r", 0L), (11, "a", "r", 0L),
    (12, "a", "l", 0L), (13, "o", "u", 0L), (14, "in", "g", 0L),
    (15, "an", "d", 0L), (16, "e", "s", 0L), (17, "l", "e", 0L),
    (18, "o", "w", 0L), (19, "r", "o", 0L), (20, "i", "s", 0L),
    (21, "i", "t", 0L), (22, "a", "s", 0L), (23, "e", "d", 0L),
    (24, "s", "e", 0L), (25, "c", "o", 0L), (26, "d", "a", 0L),
    (27, "t", "a", 0L), (28, "da", "ta", 0L), (29, "j", "o", 0L),
    (30, "jo", "in", 0L), (31, "s", "p", 0L), (32, "sp", "ar", 0L),
    (33, "spar", "k", 0L), (34, "q", "u", 0L), (35, "qu", "e", 0L),
    (36, "s", "c", 0L), (37, "sc", "an", 0L), (38, "f", "i", 0L),
    (39, "fi", "l", 0L))

  /** DuckDB replay of [[TextAnalysis.trainBpeMerges]]: `nMerges`
    * UNROLLED iterations as MATERIALIZED CTE chains (the default
    * inlined CTEs would expand the 40-deep dependency tree
    * exponentially). Each iteration: (1) `best_i` — adjacent-pair
    * counts weighted by word frequency, argmax under the exact
    * Scala tiebreak (count DESC, left ASC, right ASC); (2) `sel_i` —
    * greedy LEFTMOST non-overlapping application sites. The greedy
    * scan looks sequential but reduces to window functions: two
    * candidate positions can only overlap when they are CONSECUTIVE,
    * which forces left==right (s[i]=l, s[i+1]=r=l, s[i+2]=r), i.e. a
    * run of one repeated symbol — and greedy takes every other
    * position in such a run. So: gaps-and-islands over candidate
    * positions, keep even offsets within each island. A merged symbol
    * is l||r, which can never re-match l or r within the same
    * iteration (it is strictly longer), so the snapshot-then-apply
    * model is exact. (3) `it_{i+1}` — rebuild each word's symbol list
    * (selected site → merged symbol, its right neighbor dropped via
    * lag(sel)). Verified bit-identical to the Scala trainer at
    * fixture scale including all-same-symbol run words. */
  private def bpeTrainOracle(nMerges: Int): String = {
    val base =
      """WITH it0 AS MATERIALIZED (
        |  SELECT w, n, list_transform(generate_series(1, length(w)),
        |                              i -> substr(w, i, 1)) AS syms
        |  FROM (SELECT w, count(*) AS n
        |        FROM (SELECT unnest(
        |                string_split_regex(lower(trim(text)), '\s+')) AS w
        |              FROM documents)
        |        WHERE w <> '' GROUP BY w
        |        ORDER BY n DESC, w ASC LIMIT 65536))""".stripMargin
    val iters = (0 until nMerges).map { i =>
      s"""
         |, best$i AS MATERIALIZED (
         |  SELECT syms[pos] AS l, syms[pos+1] AS r, sum(n) AS c
         |  FROM it$i, unnest(generate_series(1, len(syms)-1)) AS u(pos)
         |  GROUP BY 1, 2
         |  ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |sel$i AS MATERIALIZED (
         |  SELECT w, n, pos, sym, l, r,
         |    cand AND (pos - min(CASE WHEN cand THEN pos END)
         |                OVER (PARTITION BY w, grp)) % 2 = 0 AS sel
         |  FROM (
         |    SELECT w, n, pos, sym, cand, l, r,
         |      pos - row_number() OVER (PARTITION BY w, cand ORDER BY pos)
         |        AS grp
         |    FROM (
         |      SELECT t.w, t.n, u.pos, t.syms[u.pos] AS sym, b.l, b.r,
         |        (u.pos < len(t.syms) AND t.syms[u.pos] = b.l
         |           AND t.syms[u.pos+1] = b.r) AS cand
         |      FROM it$i t CROSS JOIN best$i b,
         |           unnest(generate_series(1, len(t.syms))) AS u(pos)))),
         |it${i + 1} AS MATERIALIZED (
         |  SELECT w, any_value(n) AS n,
         |    list(CASE WHEN sel THEN l || r ELSE sym END ORDER BY pos)
         |      FILTER (WHERE NOT coalesce(lag_sel, FALSE)) AS syms
         |  FROM (SELECT *, lag(sel) OVER (PARTITION BY w ORDER BY pos)
         |          AS lag_sel
         |        FROM sel$i)
         |  GROUP BY w)""".stripMargin
    }.mkString
    val unioned = (0 until nMerges)
      .map(i => s"""SELECT $i AS rank, l AS "left", r AS "right", """ +
        s"CAST(c AS BIGINT) AS freq FROM best$i")
      .mkString(" UNION ALL ")
    s"$base$iters\nSELECT * FROM ($unioned) ORDER BY rank"
  }

  /** DuckDB replay of [[TextAnalysis.trainWordPiece]] — the
    * [[bpeTrainOracle]] machinery with WordPiece's three deltas:
    * (1) it0 symbols carry `##` continuation prefixes; (2) the
    * per-iteration argmax orders by the likelihood-gain score
    * `CAST(c AS DOUBLE) / (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE))` —
    * the SAME single-multiply-single-divide IEEE tree the Scala
    * trainer evaluates, so the doubles are bit-equal and the argmax
    * agrees (ties → smallest (l, r), both sides); (3) the merged
    * symbol strips the right side's `##`. The greedy leftmost
    * application sites reuse the gaps-and-islands argument verbatim:
    * overlap still forces l == r (two `##` symbols), a run, every
    * other position. */
  private def wordPieceTrainOracle(nMerges: Int): String = {
    val base =
      """WITH it0 AS MATERIALIZED (
        |  SELECT w, n, list_transform(generate_series(1, length(w)),
        |      i -> CASE WHEN i = 1 THEN substr(w, i, 1)
        |           ELSE '##' || substr(w, i, 1) END) AS syms
        |  FROM (SELECT w, count(*) AS n
        |        FROM (SELECT unnest(
        |                string_split_regex(lower(trim(text)), '\s+')) AS w
        |              FROM documents)
        |        WHERE w <> '' GROUP BY w
        |        ORDER BY n DESC, w ASC LIMIT 65536))""".stripMargin
    val iters = (0 until nMerges).map { i =>
      s"""
         |, sc$i AS MATERIALIZED (
         |  SELECT syms[pos] AS s, sum(n) AS c
         |  FROM it$i, unnest(generate_series(1, len(syms))) AS u(pos)
         |  GROUP BY 1),
         |best$i AS MATERIALIZED (
         |  SELECT p.l, p.r, p.c, sl.c AS cl, sr.c AS cr
         |  FROM (SELECT syms[pos] AS l, syms[pos+1] AS r, sum(n) AS c
         |        FROM it$i, unnest(generate_series(1, len(syms)-1)) AS u(pos)
         |        GROUP BY 1, 2) p
         |  JOIN sc$i sl ON sl.s = p.l
         |  JOIN sc$i sr ON sr.s = p.r
         |  ORDER BY CAST(p.c AS DOUBLE) /
         |      (CAST(sl.c AS DOUBLE) * CAST(sr.c AS DOUBLE)) DESC,
         |    p.l ASC, p.r ASC LIMIT 1),
         |sel$i AS MATERIALIZED (
         |  SELECT w, n, pos, sym, l, r,
         |    cand AND (pos - min(CASE WHEN cand THEN pos END)
         |                OVER (PARTITION BY w, grp)) % 2 = 0 AS sel
         |  FROM (
         |    SELECT w, n, pos, sym, cand, l, r,
         |      pos - row_number() OVER (PARTITION BY w, cand ORDER BY pos)
         |        AS grp
         |    FROM (
         |      SELECT t.w, t.n, u.pos, t.syms[u.pos] AS sym, b.l, b.r,
         |        (u.pos < len(t.syms) AND t.syms[u.pos] = b.l
         |           AND t.syms[u.pos+1] = b.r) AS cand
         |      FROM it$i t CROSS JOIN best$i b,
         |           unnest(generate_series(1, len(t.syms))) AS u(pos)))),
         |it${i + 1} AS MATERIALIZED (
         |  SELECT w, any_value(n) AS n,
         |    list(CASE WHEN sel THEN l ||
         |        (CASE WHEN r LIKE '##%' THEN substr(r, 3) ELSE r END)
         |      ELSE sym END ORDER BY pos)
         |      FILTER (WHERE NOT coalesce(lag_sel, FALSE)) AS syms
         |  FROM (SELECT *, lag(sel) OVER (PARTITION BY w ORDER BY pos)
         |          AS lag_sel
         |        FROM sel$i)
         |  GROUP BY w)""".stripMargin
    }.mkString
    val unioned = (0 until nMerges)
      .map(i => s"""SELECT $i AS rank, l AS "left", r AS "right", """ +
        s"CAST(c AS BIGINT) AS pair_n, CAST(cl AS BIGINT) AS left_n, " +
        s"CAST(cr AS BIGINT) AS right_n FROM best$i")
      .mkString(" UNION ALL ")
    s"$base$iters\nSELECT * FROM ($unioned) ORDER BY rank"
  }

  /** The fixture-trained WordPiece vocab behind `q_wordpiece_encode`:
    * the corpus alphabet (bare first chars + `##` continuations)
    * plus the 40 learned merges — derived once from
    * [[graft.ops.TextAnalysis.trainWordPiece]] /
    * [[graft.ops.TextAnalysis.wordPieceVocab]] on the documents
    * fixture (identical content at every SF), re-derived by the
    * WordPieceSpec tripwire so a fixture regeneration fails by name,
    * never as an opaque oracle hash mismatch. */
  private[graft] val PinnedWordPieceVocab: Array[String] = Array(
    "##a", "##b", "##bl", "##c", "##ch", "##d", "##e", "##g",
    "##h", "##i", "##in", "##k", "##l", "##low", "##lu", "##lum",
    "##lumn", "##m", "##n", "##o", "##oin", "##olumn", "##oup", "##ow",
    "##p", "##r", "##s", "##sh", "##st", "##t", "##tch", "##u",
    "##up", "##us", "##w", "##y", "a", "ag", "agg", "b",
    "bi", "big", "c", "column", "cus", "cust", "custo", "custom",
    "d", "dup", "f", "fi", "fil", "filt", "g", "h",
    "j", "join", "k", "l", "li", "lin", "m", "o",
    "p", "q", "qu", "r", "row", "s", "sp", "t",
    "th", "v", "w", "wi", "win", "wind", "window")

  /** The pinned unigram vocab for q_unigram_encode: every log-prob is
    * a dyadic rational (multiple of 0.25), so the Viterbi DP's path
    * sums are binary-exact on BOTH engines — cross-engine agreement
    * needs no float tolerance, only the shared deterministic tiebreak
    * (smallest split point = longest trailing piece). The DuckDB
    * oracle's lookup CASE is generated from this same literal. */
  private val PinnedUnigramVocab: Array[(String, Double)] = Array(
    ("th", -2.5), ("er", -2.75), ("in", -2.75), ("an", -3.0),
    ("on", -3.0), ("st", -3.0), ("join", -3.0), ("row", -3.25),
    ("hash", -3.25), ("ter", -3.25), ("ta", -3.25), ("scan", -3.5),
    ("sort", -3.5), ("tch", -3.5), ("ge", -3.5), ("ll", -3.5),
    ("ow", -3.5), ("ba", -3.75), ("col", -3.75), ("mer", -3.75),
    ("ry", -3.75), ("ue", -3.75), ("up", -3.75), ("all", -3.75),
    ("par", -3.75), ("cust", -4.0), ("omer", -4.0), ("umn", -4.0),
    ("fil", -4.0), ("ord", -4.0), ("val", -4.0), ("data", -4.0),
    ("line", -4.0), ("tor", -4.0), ("able", -4.0), ("spark", -4.0),
    ("que", -4.25), ("sma", -4.25), ("ream", -4.25), ("fast", -4.25),
    ("slow", -4.25), ("key", -4.25), ("gro", -4.25), ("wind", -4.5),
    ("big", -4.5), ("vec", -4.5), ("agg", -4.5),
    ("a", -3.25), ("e", -3.25), ("s", -3.0), ("t", -3.5), ("o", -3.0),
    ("r", -3.5), ("i", -3.5), ("n", -3.5), ("l", -3.75), ("c", -3.5),
    ("u", -3.75), ("m", -4.0), ("d", -4.0), ("g", -4.0), ("h", -4.25),
    ("b", -4.25), ("p", -4.25), ("f", -4.5), ("k", -4.5), ("w", -4.75),
    ("y", -5.0), ("v", -5.0), ("j", -5.0), ("q", -5.25), ("x", -5.5),
    ("z", -5.75))

  /**
   * r11 outcome pin for `q_unigram_train`: the trained unigram vocab
   * at sf0.01 — (piece, 6-dp-rounded log-prob as an exact round-trip
   * decimal string). `trainUnigramLm` is ONE exact integer
   * word-count aggregate (order-free) followed by driver arithmetic
   * over a sorted array — bit-deterministic on any partition layout
   * by construction (its scaladoc's long-standing claim, now
   * tripwire-pinned). The old rows-only blocker was CROSS-ENGINE:
   * recomputing the logs in DuckDB differs by a libm ulp; pinning the
   * JVM's own output sidesteps the recompute entirely.
   */
  private[graft] val UnigramTrainPins: Seq[(String, String)] = Seq(
    ("a", "-3.00526"),
    ("agg", "-3.659941"),
    ("b", "-10.463446"),
    ("batch", "-3.620763"),
    ("big", "-3.68808"),
    ("c", "-10.463446"),
    ("column", "-3.62397"),
    ("custom", "-3.62397"),
    ("d", "-7.20535"),
    ("data", "-3.652202"),
    ("e", "-3.730044"),
    ("er", "-3.62397"),
    ("f", "-3.713515"),
    ("filter", "-3.625041"),
    ("g", "-10.463446"),
    ("group", "-3.6858"),
    ("h", "-3.730044"),
    ("hash", "-3.610147"),
    ("i", "-10.463446"),
    ("j", "-10.463446"),
    ("join", "-3.592355"),
    ("k", "-10.463446"),
    ("key", "-3.665506"),
    ("l", "-10.463446"),
    ("line", "-3.650002"),
    ("m", "-10.463446"),
    ("merge", "-3.641249"),
    ("n", "-10.463446"),
    ("o", "-10.463446"),
    ("order", "-3.647806"),
    ("ort", "-3.692657"),
    ("p", "-10.463446"),
    ("part", "-3.6858"),
    ("q", "-3.693804"),
    ("r", "-3.693804"),
    ("row", "-3.61438"),
    ("s", "-3.692657"),
    ("scan", "-3.621831"),
    ("slow", "-3.641249"),
    ("small", "-3.630414"),
    ("spark", "-3.683524"),
    ("st", "-3.713515"),
    ("stream", "-3.674474"),
    ("t", "-3.730044"),
    ("table", "-3.652202"),
    ("u", "-10.463446"),
    ("ue", "-3.693804"),
    ("up", "-7.20535"),
    ("v", "-10.463446"),
    ("value", "-3.66439"),
    ("vector", "-3.647806"),
    ("w", "-10.463446"),
    ("window", "-3.676729"),
    ("y", "-3.693804"))

  val all: Seq[Gate] = Seq(

    // corpus-trained bigram LM perplexity (add-α smoothing) — the
    // count-based quality filter: two map-side-combined count tables,
    // re-join by key, nothing on the driver but the V scalar
    Gate("q_lm_perplexity", (s, dir) =>
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "doc_id", "text"),
      // mirrors TextAnalysis.bigramLmScore: decimal-point constants that
      // are not binary-exact (0.1) are CAST to DOUBLE so DuckDB's
      // decimal-literal typing can't diverge from Spark's double math
      Some("""WITH toks AS (
        | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents
        | WHERE text IS NOT NULL AND trim(text) <> ''),
        |big AS (
        | SELECT doc_id, w1 || ' ' || w2 AS gram, w1
        | FROM (SELECT doc_id,
        |        unnest(t[1 : len(t) - 1]) AS w1,
        |        unnest(t[2 : len(t)]) AS w2
        |       FROM toks WHERE len(t) >= 2)),
        |cnt AS (SELECT gram, count(*) AS c12 FROM big GROUP BY gram),
        |ctx AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        |voc AS (SELECT count(DISTINCT tok) AS v
        |        FROM (SELECT unnest(t) AS tok FROM toks)),
        |sc AS (
        | SELECT b.doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CAST(round(ln((c.c12 + CAST(0.1 AS DOUBLE)) /
        |        (x.c1 + CAST(0.1 AS DOUBLE) * v.v)), 6)
        |       AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_logprob
        | FROM big b
        | JOIN cnt c ON b.gram = c.gram
        | JOIN ctx x ON b.w1 = x.w1
        | CROSS JOIN voc v
        | GROUP BY b.doc_id)
        |SELECT doc_id, n_bigrams, avg_logprob,
        | round(exp(-avg_logprob), 4) AS perplexity
        |FROM sc""".stripMargin)),

    // CCNet head/middle/tail perplexity tiers: quantile thresholds
    // trained on a content-hash half-sample (bounded exact-percentile
    // state), then one broadcast-literal CASE over the scored corpus
    Gate("q_ppl_buckets", (s, dir) =>
      TextAnalysis.perplexityBuckets(
        TextAnalysis.bigramLmScore(t(s, dir, "documents"),
          "doc_id", "text"),
        "doc_id", sampleFraction = 0.5),
      // mirrors TextAnalysis.perplexityBuckets over the q_lm_perplexity
      // CTE chain: same md5 half-sample predicate as sampleByHash, same
      // 1/3 and 2/3 cutpoints as IEEE double divisions, quantile_cont =
      // Spark's exact percentile interpolation, both rounded to 6
      Some("""WITH toks AS (
        | SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        | FROM documents
        | WHERE text IS NOT NULL AND trim(text) <> ''),
        |big AS (
        | SELECT doc_id, w1 || ' ' || w2 AS gram, w1
        | FROM (SELECT doc_id,
        |        unnest(t[1 : len(t) - 1]) AS w1,
        |        unnest(t[2 : len(t)]) AS w2
        |       FROM toks WHERE len(t) >= 2)),
        |cnt AS (SELECT gram, count(*) AS c12 FROM big GROUP BY gram),
        |ctx AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        |voc AS (SELECT count(DISTINCT tok) AS v
        |        FROM (SELECT unnest(t) AS tok FROM toks)),
        |sc AS (
        | SELECT b.doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CAST(round(ln((c.c12 + CAST(0.1 AS DOUBLE)) /
        |        (x.c1 + CAST(0.1 AS DOUBLE) * v.v)), 6)
        |       AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_logprob
        | FROM big b
        | JOIN cnt c ON b.gram = c.gram
        | JOIN ctx x ON b.w1 = x.w1
        | CROSS JOIN voc v
        | GROUP BY b.doc_id),
        |ppl AS (SELECT doc_id, round(exp(-avg_logprob), 4) AS perplexity
        |        FROM sc),
        |thr AS (SELECT
        |  round(quantile_cont(perplexity, CAST(1 AS DOUBLE) / 3), 6) AS t1,
        |  round(quantile_cont(perplexity, CAST(2 AS DOUBLE) / 3), 6) AS t2
        | FROM ppl
        | WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
        |SELECT p.doc_id, p.perplexity,
        | CASE WHEN p.perplexity <= t.t1 THEN 'head'
        |      WHEN p.perplexity <= t.t2 THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |FROM ppl p CROSS JOIN thr t""".stripMargin)),

    // trigram stupid-backoff LM on a held-out hash split: counts from
    // the 'train' split score the OTHER splits, so unseen trigrams
    // actually exercise both backoff orders (scoring the training
    // corpus itself never would)
    Gate("q_lm_backoff", (s, dir) => {
      val docs = t(s, dir, "documents").withColumn("split",
        TextAnalysis.assignSplit(col("doc_id"), trainPct = 0.8,
          validPct = 0.1))
      TextAnalysis.trigramLmScore(
        docs.filter(col("split") === "train"),
        docs.filter(col("split") =!= "train"), "doc_id", "text")
    },
      // q_lm_backoff oracle — mirrors TextAnalysis.trigramLmScore branch
      // for branch: identical IEEE ratio trees, ln rounded to 6 →
      // DECIMAL sums, inexact constants (0.4, 0.4²) interpolated from the
      // same Scala doubles and CAST to DOUBLE (DuckDB decimal-literal
      // typing). The split predicate is q_data_split's proven md5 form.
      Some {
        val b = 0.4
        s"""WITH sp AS (
           | SELECT doc_id, text,
           |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
           |       THEN 'train' ELSE 'other' END AS split
           | FROM documents),
           |ttox AS (
           | SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
           | FROM sp
           | WHERE split = 'train' AND text IS NOT NULL AND trim(text) <> ''),
           |scal AS (
           | SELECT count(*) AS n, count(DISTINCT tok) AS v
           | FROM (SELECT unnest(t) AS tok FROM ttox)),
           |tr3 AS (
           | SELECT g, count(*) AS c123 FROM (
           |  SELECT w1 || ' ' || w2 || ' ' || w3 AS g FROM (
           |   SELECT unnest(t[1 : len(t) - 2]) AS w1,
           |          unnest(t[2 : len(t) - 1]) AS w2,
           |          unnest(t[3 : len(t)]) AS w3
           |   FROM ttox WHERE len(t) >= 3)) GROUP BY g),
           |tr2 AS (
           | SELECT g2, count(*) AS cbi FROM (
           |  SELECT w1 || ' ' || w2 AS g2 FROM (
           |   SELECT unnest(t[1 : len(t) - 1]) AS w1,
           |          unnest(t[2 : len(t)]) AS w2
           |   FROM ttox WHERE len(t) >= 2)) GROUP BY g2),
           |ctx AS (
           | SELECT split_part(g2, ' ', 1) AS w,
           |        CAST(sum(cbi) AS BIGINT) AS cctx
           | FROM tr2 GROUP BY 1),
           |uni AS (
           | SELECT tok AS w3, count(*) AS c3
           | FROM (SELECT unnest(t) AS tok FROM ttox) GROUP BY 1),
           |st AS (
           | SELECT doc_id, g,
           |  split_part(g, ' ', 1) || ' ' || split_part(g, ' ', 2) AS p12,
           |  split_part(g, ' ', 2) || ' ' || split_part(g, ' ', 3) AS s23,
           |  split_part(g, ' ', 2) AS w2,
           |  split_part(g, ' ', 3) AS w3
           | FROM (
           |  SELECT doc_id, w1 || ' ' || w2 || ' ' || w3 AS g FROM (
           |   SELECT doc_id,
           |          unnest(t[1 : len(t) - 2]) AS w1,
           |          unnest(t[2 : len(t) - 1]) AS w2,
           |          unnest(t[3 : len(t)]) AS w3
           |   FROM (SELECT doc_id,
           |                string_split_regex(lower(trim(text)), '\\s+') AS t
           |         FROM sp WHERE split <> 'train') WHERE len(t) >= 3))),
           |sc AS (
           | SELECT s.doc_id, count(*) AS n_trigrams,
           |  CAST(sum(CAST(round(ln(
           |    CASE WHEN t3.c123 IS NOT NULL THEN t3.c123 / b1.cbi
           |         WHEN b2.cbi IS NOT NULL
           |           THEN CAST($b AS DOUBLE) * (b2.cbi / cx.cctx)
           |         ELSE CAST(${b * b} AS DOUBLE) *
           |              ((coalesce(u.c3, 0) + 1) / (sl.n + sl.v))
           |    END), 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_logprob
           | FROM st s
           | LEFT JOIN tr3 t3 ON s.g = t3.g
           | LEFT JOIN tr2 b1 ON s.p12 = b1.g2
           | LEFT JOIN tr2 b2 ON s.s23 = b2.g2
           | LEFT JOIN ctx cx ON s.w2 = cx.w
           | LEFT JOIN uni u ON s.w3 = u.w3
           | CROSS JOIN scal sl
           | GROUP BY s.doc_id)
           |SELECT doc_id, n_trigrams, avg_logprob,
           | round(exp(-avg_logprob), 4) AS perplexity
           |FROM sc""".stripMargin
      }),

    // token-distribution drift between two snapshot halves: per-token
    // chi-square homogeneity over the top-50 combined tokens — pure
    // rational arithmetic (log-free), hash-exact
    Gate("q_token_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.tokenDistributionDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", topN = 50)
    },
      Some("""WITH tok AS (
        | SELECT doc_id,
        |  unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        | FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        |b AS (SELECT term, count(*) AS o1 FROM tok
        |      WHERE doc_id % 2 = 0 AND term <> '' GROUP BY 1),
        |a2 AS (SELECT term, count(*) AS o2 FROM tok
        |       WHERE doc_id % 2 = 1 AND term <> '' GROUP BY 1),
        |t1 AS (SELECT CAST(sum(o1) AS BIGINT) AS n1 FROM b),
        |t2 AS (SELECT CAST(sum(o2) AS BIGINT) AS n2 FROM a2),
        |top AS (
        | SELECT coalesce(b.term, a2.term) AS term,
        |        CAST(coalesce(o1, 0) AS BIGINT) AS nb,
        |        CAST(coalesce(o2, 0) AS BIGINT) AS na
        | FROM b FULL OUTER JOIN a2 ON b.term = a2.term
        | ORDER BY (coalesce(o1, 0) + coalesce(o2, 0)) DESC, term
        | LIMIT 50)
        |SELECT term, nb AS n_before, na AS n_after,
        | round(CAST(nb AS DOUBLE) / n1, 9) AS p_before,
        | round(CAST(na AS DOUBLE) / n2, 9) AS p_after,
        | CASE WHEN n1 > 0 AND n2 > 0 THEN round(
        |   (nb - CAST(nb + na AS DOUBLE) * n1 / (n1 + n2))
        |     * (nb - CAST(nb + na AS DOUBLE) * n1 / (n1 + n2))
        |     / (CAST(nb + na AS DOUBLE) * n1 / (n1 + n2))
        | + (na - CAST(nb + na AS DOUBLE) * n2 / (n1 + n2))
        |     * (na - CAST(nb + na AS DOUBLE) * n2 / (n1 + n2))
        |     / (CAST(nb + na AS DOUBLE) * n2 / (n1 + n2)), 6) END AS chi2
        |FROM top CROSS JOIN t1 CROSS JOIN t2""".stripMargin)),

    // token-budget subset: maximal whole-document prefix in md5 order
    // whose tokens fit the budget — the reproducible "N-token slice"
    // a training run is provisioned by (distributed prefix sum)
    Gate("q_token_budget", (s, dir) =>
      TextAnalysis.tokenBudgetSample(
        t(s, dir, "documents"), "doc_id", "text",
        budgetTokens = 15000L),
      Some("""WITH n AS (
        | SELECT doc_id,
        |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |   ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS nt
        | FROM documents),
        |k AS (
        | SELECT doc_id, CAST(nt AS BIGINT) AS n_toks,
        |  md5(CAST(doc_id AS VARCHAR)) ||
        |    lpad(CAST(doc_id AS VARCHAR), 20, '0') AS okey
        | FROM n WHERE nt > 0),
        |c AS (
        | SELECT doc_id, n_toks,
        |  CAST(sum(n_toks) OVER (ORDER BY okey) AS BIGINT) AS cum
        | FROM k)
        |SELECT doc_id, n_toks, cum AS cum_toks
        |FROM c WHERE cum <= 15000""".stripMargin)),

    // temperature-scaled mixture rates (the mT5/XLM-R n^alpha rule):
    // alpha=0.5 flattens the language head, sqrt keeps it bit-exact
    Gate("q_temperature_mix", (s, dir) =>
      TextAnalysis.temperatureMixtureRates(
        t(s, dir, "documents")
          .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("nt")),
        "lang", "nt", budget = 10000L, alpha = 0.5),
      Some("""WITH n AS (
        | SELECT lang,
        |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |   ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS nt
        | FROM documents WHERE lang IS NOT NULL),
        |t AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens
        |      FROM n GROUP BY lang HAVING sum(nt) > 0),
        |w AS (SELECT lang, n_tokens,
        |       round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS w FROM t),
        |s AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS s
        |      FROM w)
        |SELECT lang, n_tokens, round(w / s, 9) AS weight,
        | round(least(CAST(1.0 AS DOUBLE),
        |   CAST(10000.0 AS DOUBLE) * (w / s) / n_tokens), 9) AS rate
        |FROM w CROSS JOIN s""".stripMargin)),

    // token-budget mixture assembly: 4000-token mix at 50/25/12.5/12.5
    // weights (binary-exact doubles) — src0's share exceeds its supply
    // so it caps at rate 1, unlisted sources drop; keep decision is
    // the deterministic md5 sampler
    Gate("q_token_mixture", (s, dir) => {
      val withTok = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      val rates = TextAnalysis.mixtureRates(withTok, "source", "n_tok",
        budget = 4000L,
        weights = Seq("src0" -> 0.5, "src1" -> 0.25,
          "src2" -> 0.125, "src3" -> 0.125))
      withTok.filter(TextAnalysis.mixtureSample(col("doc_id"),
          col("source"), rates))
        .select(col("doc_id"), col("source"))
    },
      // mirrors mixtureRates + mixtureSample: binary-exact weight
      // literals, rate = least(1, budget*w / tokens) as IEEE doubles,
      // md5 bound = round(rate * 2^32) rendered %08x (rate 1 -> the
      // always-true 'zzzzzzzz' bucket, same as sampleByHash)
      Some("""WITH tok AS (
        | SELECT doc_id, source,
        |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |       ELSE len(string_split_regex(lower(trim(text)), '\s+')) END
        |    AS n_tok
        | FROM documents),
        |tot AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) AS t
        |        FROM tok GROUP BY source),
        |rates AS (SELECT source,
        |  least(CAST(1 AS DOUBLE), CAST(4000 AS DOUBLE) *
        |   (CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
        |     WHEN 'src2' THEN 0.125 WHEN 'src3' THEN 0.125 END) / t)
        |   AS rate
        | FROM tot
        | WHERE source IN ('src0', 'src1', 'src2', 'src3'))
        |SELECT k.doc_id, k.source
        |FROM tok k JOIN rates r ON k.source = r.source
        |WHERE CASE
        | WHEN CAST(round(r.rate * 4294967296.0) AS BIGINT) >= 4294967296
        |  THEN TRUE
        | ELSE substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 8) <
        |  printf('%08x', CAST(round(r.rate * 4294967296.0) AS BIGINT))
        |END""".stripMargin)),

    // BPE apply: encode the corpus with merges learned by the trainer
    // (rows-only gate — the iterative merge contraction has no SQL
    // oracle; OpsSpec pins the encoding semantics). The subtoken list
    // is flattened to one space-joined string: the checker sorts rows
    // in pandas, which cannot order an array column.
    // BPE apply under a PINNED ranked merge table (the
    // q_unigram_encode pattern: train-once/segment-100TB is the
    // production shape, and a fixed table makes the greedy
    // leftmost-best-rank merge loop fully oracle-able — the DuckDB
    // side replays it as a recursive CTE generated from the SAME
    // literal, see bpeEncodeOracle). The trained-merge composition
    // stays covered by q_bpe_train + OpsSpec parity pins.
    Gate("q_bpe_encode", (s, dir) =>
      TextAnalysis.applyBpe(t(s, dir, "documents"), "doc_id", "text",
          PinnedBpeMerges)
        .select(col("doc_id"), col("pos"),
          concat_ws(" ", col("subtokens")).as("subtokens")),
      // q_bpe_encode oracle — [[graft.ops.TextAnalysis.bpeEncodeWord]]'s
      // greedy loop replayed in DuckDB as a recursive CTE over DISTINCT
      // words: each step scores every adjacent subtoken pair with the
      // pinned rank table (unknown pairs = Int.MaxValue), merges the
      // LEFTMOST best-ranked pair (`list_position` returns the first
      // minimum — the kernel keeps the first strictly-smaller rank), and
      // stops when no pair is ranked. Length strictly decreases, so each
      // word contributes at most len(word) states and exactly one
      // terminal row.
      Some {
        val rankCase = "CASE " + PinnedBpeMerges.map { case (r, l, rt, _) =>
          s"WHEN s[i] = '$l' AND s[i + 1] = '$rt' THEN $r"
        }.mkString(" ") + " ELSE 2147483647 END"
        s"""WITH RECURSIVE toks AS (
           | SELECT doc_id, unnest(ts) AS w,
           |  unnest(generate_series(0, len(ts) - 1)) AS pos
           | FROM (SELECT doc_id,
           |        string_split_regex(lower(trim(text)), '\\s+') AS ts
           |       FROM documents WHERE text IS NOT NULL)),
           |toks2 AS (SELECT doc_id, pos, w FROM toks WHERE w <> ''),
           |words AS (SELECT DISTINCT w FROM toks2),
           |st AS (
           | SELECT w, list_transform(generate_series(1, length(w)),
           |   i -> substring(w, i, 1)) AS s
           | FROM words
           | UNION ALL
           | SELECT w, list_concat(list_concat(
           |    s[1:bi - 1], [s[bi] || s[bi + 1]]), s[bi + 2:len(s)]) AS s
           | FROM (
           |  SELECT w, s, list_position(rk, list_min(rk)) AS bi
           |  FROM (SELECT w, s,
           |         list_transform(generate_series(1, len(s) - 1),
           |           i -> $rankCase) AS rk
           |        FROM st WHERE len(s) > 1)
           |  WHERE list_min(rk) < 2147483647)),
           |fin AS (
           | SELECT w, s FROM st
           | WHERE len(s) = 1 OR list_min(
           |   list_transform(generate_series(1, len(s) - 1),
           |     i -> $rankCase)) = 2147483647)
           |SELECT t.doc_id, CAST(t.pos AS INTEGER) AS pos,
           | array_to_string(f.s, ' ') AS subtokens
           |FROM toks2 t JOIN fin f ON f.w = t.w""".stripMargin
      }),

    // frequency-ordered token vocabulary (the dictionary half of a
    // tokenizer): top-256 tokens, id = deterministic rank
    Gate("q_vocab", (s, dir) =>
      TextAnalysis.vocabDf(s,
        TextAnalysis.buildVocab(t(s, dir, "documents"), "text", 256)),
      Some("""WITH w AS (
        | SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        | FROM documents),
        |c AS (SELECT term, count(*) AS n FROM w
        |      WHERE term <> '' GROUP BY term),
        |r AS (SELECT term, n,
        |       row_number() OVER (ORDER BY n DESC, term ASC) AS rk FROM c)
        |SELECT term, CAST(rk - 1 AS INTEGER) AS token_id,
        | n AS n_occurrences
        |FROM r WHERE rk <= 256""".stripMargin)),

    // dictionary encoding: (doc, pos, token_id), OOV = -1 against a
    // deliberately tiny top-64 vocabulary so both branches are exercised
    Gate("q_tokenize", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextAnalysis.buildVocab(docs, "text", 64)
      TextAnalysis.tokenize(docs.filter(col("doc_id") % 25 === 0),
        "doc_id", "text", vocab)
    },
      Some("""WITH w AS (
        | SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        | FROM documents),
        |c AS (SELECT term, count(*) AS n FROM w
        |      WHERE term <> '' GROUP BY term),
        |r AS (SELECT term,
        |       row_number() OVER (ORDER BY n DESC, term ASC) AS rk FROM c),
        |v AS (SELECT term, rk FROM r WHERE rk <= 64),
        |t AS (SELECT doc_id,
        |       string_split_regex(lower(trim(text)), '\s+') AS words
        |      FROM documents WHERE doc_id % 25 = 0),
        |p AS (SELECT doc_id,
        |       unnest(generate_series(1, len(words))) AS i, words FROM t),
        |wp AS (SELECT doc_id, i - 1 AS pos, words[i] AS term
        |       FROM p WHERE words[i] <> '')
        |SELECT wp.doc_id, CAST(wp.pos AS INTEGER) AS pos,
        | COALESCE(CAST(v.rk - 1 AS INTEGER), -1) AS token_id
        |FROM wp LEFT JOIN v ON wp.term = v.term""".stripMargin)),

    // BPE trainer statistics (first merge iteration): corpus-wide
    // counts of adjacent character pairs inside words, top-50 with a
    // total tiebreak order — pure codegen (explode+substring, no HOFs)
    Gate("q_bpe_pairs", (s, dir) => {
      val w = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
      w.select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(50)
    },
      Some("""WITH w AS (
        | SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        | FROM documents),
        |p AS (
        | SELECT substring(w, i, 2) AS pair
        | FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
        |       FROM w WHERE length(w) >= 2)),
        |c AS (SELECT pair, count(*) AS n FROM p GROUP BY pair),
        |r AS (SELECT pair, n,
        |       row_number() OVER (ORDER BY n DESC, pair ASC) AS rk FROM c)
        |SELECT pair, n FROM r WHERE rk <= 50""".stripMargin)),

    // full BPE trainer (q_bpe_pairs is its first iteration): one
    // corpus-scale word-count aggregate, then the driver merge loop on
    // the bounded word-frequency table. Deterministic merge list.
    // ORACLED (new in r9): the training loop is replayed in DuckDB as
    // 40 UNROLLED materialized-CTE iterations (see [[bpeTrainOracle]])
    // — count pairs, argmax with the (count DESC, left, right)
    // tiebreak, apply the merge. The only sequential step — greedy
    // LEFTMOST non-overlapping application — reduces to a windowed
    // islands-parity rule because overlapping candidates can only be
    // CONSECUTIVE runs of one repeated symbol (l==r): take even
    // offsets within each candidate island.
    Gate("q_bpe_train", (s, dir) => {
      val merges = TextAnalysis.trainBpeMerges(
        t(s, dir, "documents"), "text", nMerges = 40)
      TextAnalysis.bpeMergesDf(s, merges)
    },
      // the TRAINER replayed as 40 unrolled materialized-CTE iterations
      Some(bpeTrainOracle(40))),

    // WordPiece trainer (r11 — the THIRD subword family, completing
    // the set real LLM pipelines choose from: BPE, unigram-LM,
    // WordPiece/BERT). Same bounded-driver shape as q_bpe_train; the
    // merge objective is likelihood gain c(l,r)/(c(l)·c(r)) instead of
    // raw pair frequency. Oracled by FULL SQL replay: the score is ONE
    // IEEE tree (one multiply, one divide over exact integer counts),
    // so DuckDB's doubles are bit-equal and the per-iteration argmax
    // agrees; the output carries the integer counts behind every
    // choice so the oracle re-derives each merge, not just trusts it.
    Gate("q_wordpiece_train", (s, dir) => {
      val merges = TextAnalysis.trainWordPiece(
        t(s, dir, "documents"), "text", nMerges = 40)
      TextAnalysis.wordPieceMergesDf(s, merges)
    },
      Some(wordPieceTrainOracle(40))),

    // WordPiece encoder: greedy longest-match-first against the
    // trained vocab (the BERT WordpieceTokenizer algorithm; an
    // unmatchable position voids the whole word to [UNK]). Broadcast
    // vocab, narrow per-word kernel — no shuffle. The vocab is the
    // PINNED fixture-trained one (PinnedWordPieceVocab — tripwire spec
    // re-derives it, the q_bpe_encode pattern), and the oracle replays
    // the greedy walk as a recursive CTE over distinct words.
    Gate("q_wordpiece_encode", (s, dir) =>
      TextAnalysis.applyWordPiece(t(s, dir, "documents"), "doc_id",
          "text", PinnedWordPieceVocab.toSet)
        .select(col("doc_id"), col("pos"),
          concat_ws(" ", col("subtokens")).as("subtokens")),
      // q_wordpiece_encode oracle — the greedy longest-match-first walk
      // replayed as a recursive CTE over DISTINCT words: at each step the
      // chosen length is the largest L whose (`##`-prefixed past position
      // 1) candidate is in the pinned vocab (`list_max` over a
      // `list_contains` scan — bounded by the longest pinned piece); an
      // unmatchable position voids the whole word to [UNK], the BERT
      // contract the kernel implements.
      Some {
        val vocabList = PinnedWordPieceVocab.sorted
          .map(p => s"'${p.replace("'", "''")}'").mkString("[", ", ", "]")
        val maxLen = PinnedWordPieceVocab.map(_.stripPrefix("##").length).max
        s"""WITH RECURSIVE toks AS (
           | SELECT doc_id, unnest(ts) AS w,
           |  unnest(generate_series(0, len(ts) - 1)) AS pos
           | FROM (SELECT doc_id,
           |        string_split_regex(lower(trim(text)), '\\s+') AS ts
           |       FROM documents WHERE text IS NOT NULL)),
           |toks2 AS (SELECT doc_id, pos, w FROM toks WHERE w <> ''),
           |words AS (SELECT DISTINCT w FROM toks2),
           |st AS (
           | SELECT w, 1 AS p, '' AS acc FROM words
           | UNION ALL
           | SELECT w,
           |   CASE WHEN bl = 0 THEN length(w) + 1 ELSE p + bl END AS p,
           |   CASE WHEN bl = 0 THEN '[UNK]'
           |        WHEN acc = '' THEN px || substr(w, p, bl)
           |        ELSE acc || ' ' || px || substr(w, p, bl) END AS acc
           | FROM (
           |  SELECT w, p, acc, CASE WHEN p = 1 THEN '' ELSE '##' END AS px,
           |    list_max(list_transform(
           |      generate_series(1, least(length(w) - p + 1, $maxLen)),
           |      L -> CASE WHEN list_contains($vocabList,
           |             (CASE WHEN p = 1 THEN '' ELSE '##' END) ||
           |               substr(w, p, L))
           |           THEN L ELSE 0 END)) AS bl
           |  FROM st WHERE p <= length(w))),
           |fin AS (SELECT w, acc FROM st WHERE p > length(w))
           |SELECT t.doc_id, CAST(t.pos AS INTEGER) AS pos,
           | f.acc AS subtokens
           |FROM toks2 t JOIN fin f ON f.w = t.w""".stripMargin
      }),

    // unigram-LM (SentencePiece-family) tokenizer trainer: the other
    // major subword family beside BPE. Same bounded-driver shape as
    // q_bpe_train — one corpus word-count aggregate, then driver EM
    // over the bounded word table. Rows-only BY NECESSITY (unlike
    // q_bpe_train, which unrolls into exact SQL): the EM scores are
    // math.log values, and JVM fdlibm vs DuckDB libm may differ in the
    // last ulp — a 1-ulp flip in a Viterbi comparison changes the
    // winning segmentation, hence the COUNTS, hence the vocabulary
    // itself, so even the integer part of the output is not
    // cross-engine stable. OpsSpec pins exact parity on a hand-checked
    // corpus instead
    // unigram-LM tokenizer training. ORACLED since r11 by outcome
    // pinning: ONE exact integer word-count aggregate + driver
    // arithmetic = bit-deterministic at any layout (tripwire +
    // repartition invariance in PqPinSpec); the libm-ulp blocker only
    // ever applied to RECOMPUTING the logs cross-engine
    Gate("q_unigram_train", (s, dir) => {
      val vocab = TextAnalysis.trainUnigramLm(
        t(s, dir, "documents"), "text", vocabSize = 60)
      TextAnalysis.unigramVocabDf(s, vocab)
    },
      // the trained vocab pinned (driver-deterministic by construction;
      // the libm-ulp blocker only applied to a cross-engine log
      // RECOMPUTE — see UnigramTrainPins)
      // Oracle for `q_unigram_train` from [[UnigramTrainPins]].
      Some {
        val rows = UnigramTrainPins.map { case (p, lp) =>
          s"('${p.replace("'", "''")}',CAST('$lp' AS DOUBLE))"
        }.mkString(",")
        s"""SELECT piece, log_prob
           |FROM (VALUES $rows) AS t(piece, log_prob)""".stripMargin
      }),

    // unigram apply: Viterbi-segment the corpus under a PINNED vocab
    // (broadcast table, narrow pass — the exact production shape of
    // "train once, segment 100 TB" via saveUnigramVocab). The vocab is
    // pinned as a shared literal with dyadic log-probs (multiples of
    // 0.25 — every DP path sum is binary-exact in both engines), which
    // makes the Viterbi lattice walk fully oracle-able: the DuckDB
    // side replays it as a recursive CTE generated from the SAME
    // literal (see unigramEncodeOracle). The trained-vocab composition
    // stays covered by q_unigram_train + OpsSpec parity pins. Pieces
    // flattened to one space-joined string — the checker cannot sort
    // an array column
    Gate("q_unigram_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.applyUnigram(docs, "doc_id", "text", PinnedUnigramVocab)
        .select(col("doc_id"), col("pos"),
          concat_ws(" ", col("pieces")).as("pieces"))
    },
      Some {
        val lookup = PinnedUnigramVocab.map { case (p, lp) =>
          s"WHEN '$p' THEN CAST($lp AS DOUBLE)"
        }.mkString(" ")
        val lpExpr = s"CASE substr(w, i + 1, j - i) $lookup" +
          " ELSE CASE WHEN j - i = 1 THEN CAST(-1000.0 AS DOUBLE)" +
          " ELSE CAST('-infinity' AS DOUBLE) END END"
        s"""WITH RECURSIVE words AS (
           |  SELECT DISTINCT w FROM (
           |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
           |    FROM documents) WHERE w <> ''),
           |dp AS (
           |  SELECT w, 1 AS j, [CAST(0.0 AS DOUBLE)] AS best, [0] AS back
           |  FROM words
           |  UNION ALL
           |  SELECT w, j + 1, list_append(best, list_max(sc)),
           |    list_append(back,
           |      greatest(0, j - 6) + list_position(sc, list_max(sc)) - 1)
           |  FROM (
           |    SELECT w, j, best, back,
           |      list_transform(generate_series(greatest(0, j - 6), j - 1),
           |        i -> best[i + 1] + $lpExpr) AS sc
           |    FROM dp WHERE j <= length(w))),
           |rec AS (
           |  SELECT w, length(w) AS k, CAST([] AS VARCHAR[]) AS pieces, back
           |  FROM dp WHERE j = length(w) + 1
           |  UNION ALL
           |  SELECT w, back[k + 1],
           |    list_prepend(substr(w, back[k + 1] + 1, k - back[k + 1]),
           |      pieces), back
           |  FROM rec WHERE k > 0),
           |seg AS (SELECT w, array_to_string(pieces, ' ') AS pieces
           |        FROM rec WHERE k = 0),
           |toks AS (
           |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos,
           |         unnest(l) AS w
           |  FROM (SELECT doc_id,
           |        string_split_regex(lower(trim(text)), '\\s+') AS l
           |        FROM documents))
           |SELECT t.doc_id, CAST(t.pos AS INTEGER) AS pos, s.pieces
           |FROM toks t JOIN seg s ON t.w = s.w
           |WHERE t.w <> ''""".stripMargin
      }),

    // deterministic global shuffle: dense 0-based training positions
    // in md5(id+salt) order, distributed rank (no global window)
    Gate("q_shuffle", (s, dir) =>
      graft.ops.Packing.shufflePositions(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "epoch0"),
      Some("""SELECT doc_id, lang,
        | row_number() OVER (ORDER BY
        |   md5(CAST(doc_id AS VARCHAR) || ':epoch0')
        |     || lpad(CAST(doc_id AS VARCHAR), 20, '0')) - 1 AS pos
        |FROM documents""".stripMargin)),

    // training shards: the shuffled order chopped into loader-facing
    // fixed-size blocks (shard = pos / N) — writeShards materializes
    // one file per shard; the gate verifies the membership math
    Gate("q_shards", (s, dir) =>
      graft.ops.Packing.shardPositions(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "epoch0", docsPerShard = 64),
      Some("""WITH s AS (
        | SELECT doc_id, lang,
        |  row_number() OVER (ORDER BY
        |    md5(CAST(doc_id AS VARCHAR) || ':epoch0')
        |      || lpad(CAST(doc_id AS VARCHAR), 20, '0')) - 1 AS pos
        | FROM documents)
        |SELECT doc_id, lang, pos, pos // 64 AS shard FROM s""".stripMargin)),

    // curriculum interleave (r11, rank made scale-safe r12):
    // easiest-first within each domain, round-robin across domains,
    // assigned in CLOSED FORM ((rank−1)·nDomains + domainIdx) — a
    // total training order that never needs a global sort OR a
    // per-domain window (a Window.partitionBy(domain) holds each
    // domain's whole row set in one task). Distributed range rank +
    // broadcast domain-index/offset join; exact SQL replay.
    Gate("q_curriculum", (s, dir) =>
      graft.ops.Packing.curriculumInterleave(
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "lang", "n_chars")
        .select(col("doc_id"), col("lang"), col("domain_idx"),
          col("domain_rank"), col("global_pos")),
      // closed-form curriculum positions: same per-domain rank + same
      // lexicographic domain index, recomputed independently
      Some("""WITH d AS (
        | SELECT doc_id, lang, n_chars FROM documents
        | WHERE lang IS NOT NULL),
        |ix AS (
        | SELECT lang,
        |  CAST(row_number() OVER (ORDER BY lang) - 1 AS INTEGER)
        |    AS domain_idx
        | FROM (SELECT DISTINCT lang FROM d)),
        |n AS (SELECT count(*) AS n FROM ix)
        |SELECT d.doc_id, d.lang, ix.domain_idx,
        | CAST(row_number() OVER (PARTITION BY d.lang
        |   ORDER BY d.n_chars, d.doc_id) AS INTEGER) AS domain_rank,
        | (row_number() OVER (PARTITION BY d.lang
        |   ORDER BY d.n_chars, d.doc_id) - 1) * n.n + ix.domain_idx
        |   AS global_pos
        |FROM d JOIN ix USING (lang) CROSS JOIN n""".stripMargin)),

    // UniMax budget allocation (r11, Chung et al. 2023): split a token
    // budget across languages as uniformly as the per-language repeat
    // cap allows — smallest language first, each takes
    // min(maxEpochs·tokens, ⌊remaining/left⌋), leftovers waterfall to
    // the larger languages. All-integer floor arithmetic over the
    // bounded language table (the corpus-scale work is the one token
    // aggregate), replayed in SQL as a recursive CTE. The fixture
    // exercises BOTH regimes: caps bind for the four small languages,
    // the budget binds for en.
    Gate("q_unimax", (s, dir) =>
      graft.ops.Packing.unimaxAllocation(
        t(s, dir, "documents").groupBy(col("lang"))
          .agg(sum(length(col("text"))).as("tokens")),
        "lang", "tokens", budget = 400000L, maxEpochs = 3),
      // the UniMax waterfilling loop replayed as a recursive CTE:
      // smallest language first, integer floor division, remaining
      // budget threaded through the recursion
      Some("""WITH RECURSIVE c AS (
        | SELECT lang, CAST(sum(length(text)) AS BIGINT) AS tokens
        | FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |o AS (
        | SELECT lang, tokens,
        |  row_number() OVER (ORDER BY tokens, lang) AS i,
        |  count(*) OVER () AS n
        | FROM c),
        |steps AS (
        | SELECT 0::BIGINT AS i, CAST(400000 AS BIGINT) AS rem,
        |  CAST(NULL AS BIGINT) AS quota, CAST(NULL AS VARCHAR) AS lang,
        |  CAST(NULL AS BIGINT) AS tokens
        | UNION ALL
        | SELECT o.i, s.rem - least(3 * o.tokens, s.rem // (o.n - o.i + 1)),
        |  least(3 * o.tokens, s.rem // (o.n - o.i + 1)), o.lang, o.tokens
        | FROM steps s JOIN o ON o.i = s.i + 1)
        |SELECT lang, tokens, quota AS alloc_tokens,
        | CASE WHEN tokens = 0 THEN 0.0
        |      ELSE CAST(quota AS DOUBLE) / CAST(tokens AS DOUBLE) END
        |   AS epochs
        |FROM steps WHERE i >= 1""".stripMargin)),

    // data mixing: per-language sampling rates over one corpus pass,
    // content-deterministic (md5-threshold) and nested across reweights
    Gate("q_mixture", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.filter(TextAnalysis.mixtureSample(col("doc_id"), col("lang"),
          Seq("en" -> 0.5, "zh" -> 1.0, "de" -> 0.25, "fr" -> 0.1,
            "es" -> 0.0)))
        .select(col("doc_id"), col("lang"), col("source"))
    },
      Some("""SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        | CASE lang
        |  WHEN 'en' THEN '80000000'
        |  WHEN 'zh' THEN 'zzzzzzzz'
        |  WHEN 'de' THEN '40000000'
        |  WHEN 'fr' THEN '1999999a'
        |  WHEN 'es' THEN '00000000'
        |  ELSE '00000000' END""".stripMargin)),

    // GPT-style sequence packing: concat docs in id order, cut every
    // 512 tokens; distributed prefix sum, pure integer arithmetic
    Gate("q_seq_pack", (s, dir) =>
      graft.ops.Packing.packSequences(
        t(s, dir, "documents"), "doc_id", "text", seqLen = 512),
      Some("""WITH n AS (
        | SELECT doc_id,
        |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |   ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS nt
        | FROM documents),
        |p AS (
        | SELECT doc_id, CAST(nt AS BIGINT) AS nt,
        |  CAST(coalesce(sum(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS o
        | FROM n WHERE nt > 0),
        |s AS (
        | SELECT doc_id, nt, o,
        |  unnest(generate_series(o // 512, (o + nt - 1) // 512)) AS seq_id
        | FROM p)
        |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        | CAST(greatest(0, seq_id * 512 - o) AS BIGINT) AS doc_start,
        | CAST(least((seq_id + 1) * 512 - o, nt)
        |   - greatest(0, seq_id * 512 - o) AS BIGINT) AS n_toks
        |FROM s""".stripMargin)),

    // per-sequence occupancy over the packing (every sequence full at
    // 512 toks except the ragged last)
    Gate("q_pack_stats", (s, dir) =>
      graft.ops.Packing.packStats(graft.ops.Packing.packSequences(
        t(s, dir, "documents"), "doc_id", "text", seqLen = 512)),
      Some("""WITH n AS (
        | SELECT doc_id,
        |  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        |   ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS nt
        | FROM documents),
        |p AS (
        | SELECT doc_id, CAST(nt AS BIGINT) AS nt,
        |  CAST(coalesce(sum(nt) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS o
        | FROM n WHERE nt > 0),
        |s AS (
        | SELECT doc_id, nt, o,
        |  unnest(generate_series(o // 512, (o + nt - 1) // 512)) AS seq_id
        | FROM p),
        |x AS (
        | SELECT CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(least((seq_id + 1) * 512 - o, nt)
        |    - greatest(0, seq_id * 512 - o) AS BIGINT) AS n_toks
        | FROM s)
        |SELECT seq_id, count(*) AS n_docs,
        | CAST(sum(n_toks) AS BIGINT) AS n_toks
        |FROM x GROUP BY seq_id""".stripMargin))
  )
}
