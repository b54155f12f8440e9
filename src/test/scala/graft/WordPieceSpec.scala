package graft

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis

/** WordPiece — the third subword family (BERT; Schuster & Nakajima
  * 2012): likelihood-gain merge objective, `##` continuation
  * mechanics, greedy longest-match-first encoding with the
  * whole-word-[UNK] contract, and the `q_wordpiece_encode` vocab-pin
  * tripwire. */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  test("the likelihood-gain objective prefers a rare always-together " +
    "pair over a frequent independent one (the anti-BPE case)") {
    // "xy" occurs 5 times and x/y occur ONLY together → score 5/25.
    // "ab" occurs 20 times but a and b each occur 60 times in other
    // contexts → score 20/3600. BPE would merge (a,##b) first;
    // WordPiece must merge (x,##y) first.
    val docs = (
      Seq.fill(5)("xy") ++ Seq.fill(20)("ab") ++
        Seq.fill(40)("za") ++ Seq.fill(40)("bz")
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val merges = TextAnalysis.trainWordPiece(docs, "text", nMerges = 1)
    assert(merges.head._2 == "x" && merges.head._3 == "##y",
      s"expected (x, ##y) first, got ${merges.head}")
  }

  test("## mechanics: merged symbols strip the right ##, runs merge " +
    "leftmost-first, counts are word-frequency weighted") {
    val docs = Seq((1L, "aaa aaa"), (2L, "aaa")).toDF("id", "text")
    val merges = TextAnalysis.trainWordPiece(docs, "text", nMerges = 2)
    // "aaa" → [a, ##a, ##a]; the only pair is (##a, ##a) at weight 3
    // (leftmost-first: one site per word) plus (a, ##a)
    val m0 = merges(0)
    assert(Set(("a", "##a"), ("##a", "##a")).contains((m0._2, m0._3)))
    // after any merge the new symbol keeps exactly one ## prefix rule:
    // left bare → bare, left ## → ##
    val vocab = TextAnalysis.wordPieceVocab(docs, "text", merges)
    assert(vocab.forall(p => !p.drop(2).contains("##")),
      s"double-## symbol leaked: $vocab")
  }

  test("encode: greedy longest-match-first, continuation prefixes, " +
    "whole-word [UNK] on an unmatchable position") {
    val vocab = Set("un", "##aff", "##able", "##ab", "a", "##f", "b")
    assert(TextAnalysis.wordPieceEncodeWord("unaffable", vocab) ==
      Seq("un", "##aff", "##able"))
    // greedy takes the LONGEST prefix even when it strands the tail:
    // "unaffab" → un + ##aff + ##ab
    assert(TextAnalysis.wordPieceEncodeWord("unaffab", vocab) ==
      Seq("un", "##aff", "##ab"))
    // 'q' has no piece anywhere → the WHOLE word voids to [UNK]
    assert(TextAnalysis.wordPieceEncodeWord("unq", vocab) == Seq("[UNK]"))
    assert(TextAnalysis.wordPieceEncodeWord("", vocab) == Seq.empty)
  }

  test("roundtrip: encoding the training corpus with its induced vocab " +
    "yields no [UNK] and reconstructs every word") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val merges = TextAnalysis.trainWordPiece(docs, "text", nMerges = 40)
    val vocab = TextAnalysis.wordPieceVocab(docs, "text", merges)
    val enc = TextAnalysis.applyWordPiece(docs, "doc_id", "text", vocab)
      .select(col("doc_id"), col("pos"),
        concat_ws("", transform(col("subtokens"),
          p => regexp_replace(p, "^##", ""))).as("joined"),
        array_contains(col("subtokens"), "[UNK]").as("unk"))
    assert(enc.filter(col("unk")).isEmpty,
      "corpus-trained vocab must cover its own corpus")
    // reconstruct: joined pieces equal the original word at that pos
    val words = docs.select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+"))
          .as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val mismatch = enc.join(words, Seq("doc_id", "pos"))
      .filter(col("joined") =!= col("w"))
    assert(mismatch.isEmpty, "piece concatenation lost characters")
  }

  test("q_wordpiece_encode vocab-pin tripwire: the pinned vocab is " +
    "exactly what training induces at the driver's correctness SF") {
    // the encode gate's oracle inlines PinnedWordPieceVocab — a
    // fixture regeneration must fail HERE by name, not as an opaque
    // oracle hash mismatch. sf0.01 only (the PqPinSpec convention):
    // the documents fixtures differ in word frequencies across SFs,
    // so late merges legitimately diverge at sf0.001.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val merges = TextAnalysis.trainWordPiece(docs, "text", nMerges = 40)
    val vocab = TextAnalysis.wordPieceVocab(docs, "text", merges)
    assert(vocab == gates.TokenGates.PinnedWordPieceVocab.toSet,
      "induced vocab diverged from the pin — " +
        s"missing ${gates.TokenGates.PinnedWordPieceVocab.toSet -- vocab}, " +
        s"extra ${vocab -- gates.TokenGates.PinnedWordPieceVocab.toSet}; " +
        "re-derive with graft.tools.WpDerive and update the pin WITH " +
        "this tripwire")
  }
}
