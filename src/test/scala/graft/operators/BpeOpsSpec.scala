package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BpeOpsSpec extends SparkSpec {
  import spark.implicits._

  // the Sennrich et al. classic: {low:5, lower:2, newest:6, widest:3}
  private def classicCorpus = Seq(
    (1L, Seq.fill(5)("low").mkString(" ")),
    (2L, Seq.fill(2)("lower").mkString(" ")),
    (3L, Seq.fill(6)("newest").mkString(" ")),
    (4L, Seq.fill(3)("widest").mkString(" "))
  ).toDF("doc_id", "text")

  test("learnMerges reproduces the classic merge sequence with deterministic tie-breaks") {
    val (merges, vocab) = BpeOps.learnMerges(classicCorpus, col("text"), 3)
    // es and st both count 9 -> (e,s) wins the pair-asc tie-break; then
    // (es,t) at 9; then lo/ow tie at 7 -> (l,o)
    assert(merges.map(m => (m._2, m._3, m._4)) ===
      Seq(("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L)))
    assert(merges.map(_._1) === Seq(0, 1, 2), "ranks are dense from 0")
    val syms = vocab.select("word", "symbols").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(syms("newest") === Seq("n", "e", "w", "est"))
    assert(syms("widest") === Seq("w", "i", "d", "est"))
    assert(syms("low") === Seq("lo", "w"))
  }

  test("learnMerges: greedy leftmost-first merge inside repeats; stops when no pair repeats") {
    val df = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val (merges, vocab) = BpeOps.learnMerges(df, col("text"), 10)
    // (a,a) count 4 (two per "aaa") -> merge; "aaa" -> [aa, a]; then
    // (aa,a) count 2 -> merge -> [aaa]; then nothing repeats
    assert(merges.map(m => (m._2, m._3)) === Seq(("a", "a"), ("aa", "a")))
    assert(vocab.select("symbols").head().getSeq[String](0) === Seq("aaa"))
  }

  test("driver fold and distributed loop learn identical merges and vocab (classic corpus)") {
    val (fast, fastVocab) = BpeOps.learnMerges(classicCorpus, col("text"), 16)
    val (slow, slowVocab) = BpeOps.learnMerges(classicCorpus, col("text"), 16,
      driverFoldMaxBytes = 0L) // force the distributed per-merge path
    assert(fast === slow)
    def symsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("word", "freq", "symbols").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).sortBy(_._1).toSeq
    assert(symsOf(fastVocab) === symsOf(slowVocab))
  }

  test("driver fold learns >=10 merges per Spark job") {
    // one word of 64 distinct tokens()-surviving chars, freq 3: every
    // adjacent pair counts 3, so exactly 63 merges exist before the word
    // is a single symbol
    val word = ('a' to 'z').mkString + ('0' to '9').mkString + "!#$%&()*+,-./:;<=>?@[]^_{|}~"
    assert(word.length === 64 && word.distinct.length === 64)
    val df = Seq((1L, Seq.fill(3)(word).mkString(" "))).toDF("doc_id", "text")
    val (jobs, (merges, _)) = countingJobs(BpeOps.learnMerges(df, col("text"), 63))
    assert(merges.size === 63)
    // the fold itself is 2 queries (size probe + collect); AQE splits
    // each into per-stage jobs, but the count stays CONSTANT in
    // numMerges — the whole point vs one-job-per-merge
    assert(jobs <= 6, s"driver fold job count must not scale with merges, saw $jobs")
    assert(merges.size.toDouble / jobs >= 10.0,
      s"expected >=10 merges learned per Spark job, got ${merges.size}/$jobs")
  }

  test("batched distributed fallback: >=10 merges per Spark job on an over-budget vocab, identical table") {
    // 120 two-char words over pairwise-disjoint lower()-stable alphabets
    // (caseless scripts included) with DISTINCT frequencies: every
    // adjacent pair is symbol-disjoint from every other and counts are
    // unique, so each round batches up to 64 merges into one vocabulary
    // pass
    val alphabet: IndexedSeq[Char] =
      (('a' to 'z') ++ ('0' to '9') ++ ('à' to 'þ').filter(_.isLetter) ++
        ('α' to 'ω') ++ ('а' to 'я') ++ ('ա' to 'ֆ') ++ ('א' to 'ת') ++
        ('ა' to 'ჰ') ++ ('ก' to 'ฮ')).toIndexedSeq
    assert(alphabet.distinct.length >= 240)
    assert(alphabet.forall(c => c.toLower == c), "alphabet must be lower()-stable")
    val words = (0 until 120).map(k => s"${alphabet(2 * k)}${alphabet(2 * k + 1)}")
    val text = words.zipWithIndex.flatMap { case (w, k) => Seq.fill(k + 2)(w) }
      .mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")

    val (jobs, (slow, _)) = countingJobs(
      BpeOps.learnMerges(df, col("text"), 120, driverFoldMaxBytes = 0L))
    assert(slow.size === 120, "all 120 merges learned")
    assert(slow.size.toDouble / jobs >= 10.0,
      s"expected >=10 merges per Spark job from batching, got ${slow.size}/$jobs")
    // bit-identical to the driver fold over the same corpus
    val (fast, _) = BpeOps.learnMerges(df, col("text"), 120)
    assert(slow === fast)
  }

  test("Utf8Byte mode round-trips astral-plane text that CodeUnit mode mangles") {
    // U+1F600 is 4 UTF-8 bytes / 2 UTF-16 surrogates
    val word = "a😀b"
    val df = Seq((1L, s"$word $word")).toDF("doc_id", "text")
    val (_, byteVocab) = BpeOps.learnMerges(df, col("text"), 0, mode = BpeOps.Utf8Byte)
    val bsyms = byteVocab.select("symbols").head().getSeq[String](0)
    assert(bsyms === Seq("61", "F0", "9F", "98", "80", "62"))
    val bytes = bsyms.mkString.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(new String(bytes, java.nio.charset.StandardCharsets.UTF_8) === word,
      "hex symbols must decode back to the exact original word")
    // the documented CodeUnit lossiness: Spark's split yields '?' for the
    // surrogate halves (this is WHY Utf8Byte exists)
    val (_, cuVocab) = BpeOps.learnMerges(df, col("text"), 0, mode = BpeOps.CodeUnit)
    val csyms = cuVocab.select("symbols").head().getSeq[String](0)
    assert(csyms.length === 4 && csyms(1) === "?" && csyms(2) === "?")
  }

  test("Utf8Byte mode merges hex-byte symbols and paths agree") {
    val df = Seq((1L, "café café café")).toDF("doc_id", "text")
    val (fast, _) = BpeOps.learnMerges(df, col("text"), 4, mode = BpeOps.Utf8Byte)
    val (slow, _) = BpeOps.learnMerges(df, col("text"), 4, mode = BpeOps.Utf8Byte,
      driverFoldMaxBytes = 0L)
    assert(fast === slow)
    // café = 63 61 66 C3 A9 (5 bytes, freq 3): 4 merges collapse it fully;
    // every adjacent pair ties at 3 so UTF-8-binary pair order decides:
    // (61,66) is the smallest pair, then the growing "61..." symbol keeps
    // sorting before "63"
    assert(fast.map(m => (m._2, m._3, m._4)) === Seq(
      ("61", "66", 3L), ("6166", "C3", 3L), ("6166C3", "A9", 3L), ("63", "6166C3A9", 3L)))
  }

  test("BPE counts -> packSequences composition respects the token budget and covers all docs") {
    val docs = (1L to 30L).map(i => (i, Seq.fill(5)("low newest").mkString(" ")))
      .toDF("doc_id", "text")
    val (_, vocab) = BpeOps.learnMerges(docs, col("text"), 3)
    val counts = BpeOps.encodedTokenCounts(docs, "doc_id", col("text"), vocab)
    // after 3 merges: low=[lo,w]=2, newest=[n,e,w,est]=4 -> 30 BPE toks/doc
    val packed = TextOps.packSequences(counts, col("doc_id"),
      col("n_bpe_tokens"), tokenBudget = 70)
    val bins = packed.groupBy("bin_id")
      .agg(sum("n_bpe_tokens").as("toks"), count(lit(1)).as("docs")).collect()
    assert(bins.map(_.getLong(2)).sum === 30L, "every doc packed exactly once")
    assert(bins.forall(_.getLong(1) <= 70L), "no bin exceeds the budget")
    assert(bins.exists(_.getLong(2) === 2L), "budget 70 fits two 30-token docs per bin")
  }

  test("encodedTokenCounts: per-doc counts follow the symbolized vocab via broadcast join") {
    val (_, vocab) = BpeOps.learnMerges(classicCorpus, col("text"), 3)
    val m = BpeOps.encodedTokenCounts(classicCorpus, "doc_id", col("text"), vocab)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // after 3 merges: low=[lo,w]=2, lower=[lo,w,e,r]=4, newest=4, widest=4
    assert(m(1L) === ((5L, 10L)))
    assert(m(2L) === ((2L, 8L)))
    assert(m(3L) === ((6L, 24L)))
    assert(m(4L) === ((3L, 12L)))
  }
}
