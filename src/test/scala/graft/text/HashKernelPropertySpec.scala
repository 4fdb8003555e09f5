package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the md5-p61 hash kernels: the Catalyst expressions
  * must agree with an independent plain-Scala reference (MessageDigest +
  * BigInt modular arithmetic) on arbitrary inputs — the same contract the
  * DuckDB oracles check on the fixture corpus, pinned here for inputs the
  * fixtures never contain (unicode, empties, punctuation-only tokens).
  */
class HashKernelPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  private val tokenGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.const("héllo"),
    Gen.const("中文"),
    Gen.const("a"),
    Gen.const("!!"),
    Gen.alphaStr.map(_.take(3)))
  private val docGen: Gen[List[String]] = Gen.listOfN(12, tokenGen)

  /** Plain-Scala md5-mode MinHash reference: BigInt modular arithmetic,
    * no shared code with the kernel's Mersenne fold.
    */
  private def refMinhash(shingles: Seq[String], k: Int): Seq[Long] = {
    val M = BigInt((1L << 61) - 1)
    def md5base(s: String): BigInt = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      BigInt(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    (0 until k).map { f =>
      val a = md5base(s"graft_a:$f") | 1
      val b = md5base(s"graft_b:$f")
      if (shingles.isEmpty) Long.MaxValue
      else shingles.map(g => ((md5base(g) * a + b) mod M).toLong).min
    }
  }

  test("md5-mode MinHashSignature equals the BigInt reference on random docs") {
    val docs = samples(docGen, 60).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    val got = df
      .select(col("doc_id"),
        TextExprs.tokenShingles(TextAnalysis.tokens(col("text")), 2).as("sh"))
      .select(col("doc_id"), col("sh"),
        TextExprs.minhashSig(col("sh"), 8, "md5").as("sig"))
      .as[(Long, Seq[String], Seq[Long])].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, sh, sig) =>
      assert(sig == refMinhash(sh, 8), s"doc $id shingles $sh")
    }
  }

  test("md5-mode SimHash64 equals a bit-vote reference and stays in 60 bits") {
    val docs = samples(docGen, 60).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    val got = df
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        TextExprs.simhash64(col("tk"), "md5").as("fp"))
      .as[(Long, Seq[String], Long)].collect()
    got.foreach { case (id, tk, fp) =>
      assert((fp >>> 60) == 0L, s"doc $id fingerprint uses bits >= 60")
      val hashes = tk.map(Md5P61.base)
      val ref = (0 until 60).foldLeft(0L) { (acc, b) =>
        val votes = hashes.count(h => ((h >>> b) & 1L) == 1L)
        if (votes * 2 >= tk.size) acc | (1L << b) else acc
      }
      assert(fp == ref, s"doc $id tokens $tk")
    }
  }

  test("invalid hashMode fails fast with a named error") {
    val e = intercept[Exception] {
      Seq((1L, "a b c")).toDF("doc_id", "text")
        .select(TextExprs.minhashSig(
          TextExprs.tokenShingles(TextAnalysis.tokens(col("text")), 2), 8, "MD5"))
        .collect()
    }
    assert(e.getMessage != null)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("hashMode")),
      s"error chain does not name hashMode: ${messages(e)}")
  }
}
