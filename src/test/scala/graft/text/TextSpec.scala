package graft.text

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  // ---- reference forms of the text kernels -------------------------------
  // Composable higher-order-function forms of the TextExprs kernels. Their
  // lambdas evaluate interpreted per element, so only the specs use them.

  /** Reference form of [[TextAnalysis.stopwordCount]]. */
  private def stopwordCountHof(text: Column): Column =
    size(filter(TextAnalysis.tokens(text), w => w.isin(TextAnalysis.Stopwords: _*)))

  /** Reference form of [[TextAnalysis.fingerprint]] (per character). */
  private def fingerprintHof(text: Column): Column =
    aggregate(
      // drop the trailing "" Spark's split(limit=-1) produces on char-split
      filter(split(text, ""), ch => length(ch) > 0),
      lit(0L),
      (acc, ch) => pmod(acc * lit(31L) + ascii(ch), lit(1000000007L)))

  /** Token n-gram shingles (default 3) as a distinct array. */
  private def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    val cnt = greatest(size(toks) - (n - 1), lit(0))
    // Build n-grams by zipping n shifted slices of the token array — NOT by
    // indexing with element_at inside a transform lambda: a lambda-embedded
    // reference to `toks` re-evaluates the tokenizer per element, turning
    // shingling O(tokens²). Slices evaluate it a constant n+1 times.
    val parts = (0 until n).map(k => slice(toks, lit(k + 1), cnt))
    val grams = parts.reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    array_distinct(grams)
  }

  /** 64-bit SimHash from token hashes: bit b of the fingerprint is set when
    * more token-hashes have bit b set than unset.
    *
    * Single pass: tokens are hashed once (aggregate input); the per-bit
    * vote counters are a 64-wide array accumulator updated via zip_with
    * against a constant mask array. (64 separate aggregate expressions
    * would re-tokenize + re-hash the text 64 times.)
    */
  private def simhash(text: Column): Column = {
    val masks = typedLit((0 until 64).map(1L << _))
    val counts = aggregate(
      transform(TextAnalysis.tokens(text), t => xxhash64(t)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, masks,
        (c, m) => c + when(h.bitwiseAND(m) =!= 0, 1L).otherwise(0L)))
    val n = TextAnalysis.tokenCount(text)
    aggregate(
      zip_with(counts, masks, (c, m) => when(c * 2 >= n, m).otherwise(lit(0L))),
      lit(0L),
      (acc, v) => acc.bitwiseOR(v))
  }

  test("token stats on known strings") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "  "), (3L, "one"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.stopwordCount(col("text")).as("stops"))
      .orderBy("doc_id").collect()
    assert(df(0).getInt(1) == 6 && df(0).getInt(2) == 2) // 'the' ×2
    assert(df(1).getInt(1) == 0)
    assert(df(2).getInt(1) == 1 && df(2).getInt(2) == 0)
  }

  test("native expressions match HOF reference forms (stopwords, fingerprint)") {
    val df = Seq(
      (1L, "the cat sat on the mat"),
      (2L, ""), (3L, "   "), (4L, "naïve café — résumé"),
      (5L, "a\tb\nthe  end"), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        TextAnalysis.stopwordCount(col("text")).as("sc"),
        stopwordCountHof(col("text")).as("sc_hof"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        fingerprintHof(col("text")).as("fp_hof"))
      .collect()
    df.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2) && (r.isNullAt(1) || r.getInt(1) == r.getInt(2)),
        s"stopword mismatch on doc ${r.getLong(0)}: $r")
      assert(r.isNullAt(3) == r.isNullAt(4) && (r.isNullAt(3) || r.getLong(3) == r.getLong(4)),
        s"fingerprint mismatch on doc ${r.getLong(0)}: $r")
    }
  }

  test("shingles: 3-gram count and short-text guard") {
    val out = Seq((1L, "a b c d e"), (2L, "a b"), (3L, "a b c"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), shingles(col("text")).as("sh"))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[String](1) == Seq("a b c", "b c d", "c d e"))
    assert(out(1).getSeq[String](1).isEmpty) // shorter than n → no shingles
    assert(out(2).getSeq[String](1) == Seq("a b c"))
  }

  test("jaccard: exact on constructed sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("a", "b")
      .select(TextDedup.jaccard(col("a"), col("b")).as("j"))
    assert(df.collect()(0).getDouble(0) == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("containment: asymmetric, 1.0 for a subset, 0 guard on empty") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b", "c", "d")),   // A ⊆ B
      (Seq("a", "b", "c", "d"), Seq("a", "b")),   // reverse: 2/4
      (Seq.empty[String], Seq("a"))
    ).toDF("a", "b")
      .select(TextDedup.containment(col("a"), col("b")).as("c"))
      .as[Double].collect().toSeq
    assert(df == Seq(1.0, 0.5, 0.0))
    // the quote-detection property: containment sees what Jaccard misses
    val quote = Seq((Seq("a", "b"), (1 to 40).map("t" + _) ++ Seq("a", "b")))
      .toDF("a", "b")
      .select(TextDedup.containment(col("a"), col("b")).as("c"),
        TextDedup.jaccard(col("a"), col("b")).as("j"))
      .as[(Double, Double)].collect().head
    assert(quote._1 == 1.0 && quote._2 < 0.1)
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 57).map(i => s"token$i").mkString(" ") + " x y z"
    val unrelated = (100 to 160).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = TextDedup.minhashDupPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  // An uneven split would drop the last k % bands signature rows, more
  // bands than rows would key every doc by the same empty band, and zero
  // bands would divide by zero; each MinHash API refuses them by name.
  Seq[(String, Int, Int, DataFrame => DataFrame)](
    ("uneven split", 16, 5, d => TextDedup.minhashDupPairs(d, k = 16, bands = 5)),
    ("bands > k", 4, 8, d => TextDedup.minhashCanonical(d, k = 4, bands = 8)),
    ("zero bands", 16, 0, d => TextDedup.minhashClusters(d, k = 16, bands = 0))
  ).foreach { case (what, k, bands, run) =>
    test(s"minhash banding rejects $what (k=$k, bands=$bands)") {
      val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException](run(docs))
      assert(e.getMessage.contains(s"k=$k") && e.getMessage.contains(s"bands=$bands"),
        e.getMessage)
    }
  }

  test("minhash est_jaccard approximates true jaccard for identical docs") {
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val r = TextDedup.minhashDupPairs(docs, threshold = 0.9).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Double]("est_jaccard") == 1.0)
    assert(r(0).getAs[Double]("jaccard") == 1.0)
  }

  test("minhash canonical assignment: one row per doc, clusters collapse to min id") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"zzz$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), (7L, base),   // exact-dup cluster → canonical 1
      (3L, other),                          // unique
      (4L, (1 to 57).map(i => s"tok$i").mkString(" ") + " x y z")) // near-dup of 1
      .toDF("doc_id", "text")
    val out = TextDedup.minhashCanonical(docs, threshold = 0.5)
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out.size == 5) // exactly one row per doc
    val canon = out.map(t => t._1 -> t._2).toMap
    assert(canon(1L) == 1L && canon(2L) == 1L && canon(7L) == 1L)
    assert(canon(3L) == 3L)
    assert(canon(4L) == 1L)
    assert(out.count(_._3) == 2) // canonicals: 1 and 3
  }

  test("dedup clusters: transitive chain collapses to one cluster") {
    // A~B and B~C are ≥0.5 Jaccard; A~C is ~0.33 (< threshold) — only
    // transitive closure puts all three in one cluster.
    val a = (1 to 40).map(i => s"tok$i").mkString(" ")
    val b = (1 to 60).map(i => s"tok$i").mkString(" ")
    val c = (21 to 60).map(i => s"tok$i").mkString(" ")
    val lone = (200 to 260).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, lone), (5L, a))
      .toDF("doc_id", "text")
    val out = TextDedup.minhashClusters(docs, k = 16, bands = 8, threshold = 0.5)
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(out.size == 5)
    val cluster = out.map(t => t._1 -> t._2).toMap
    assert(cluster(1L) == 1L && cluster(2L) == 1L && cluster(3L) == 1L)
    assert(cluster(5L) == 1L)  // exact copy of A rides along
    assert(cluster(4L) == 4L)  // unrelated doc is its own cluster
    assert(out.count(_._3) == 2)
  }

  test("substring dedup: planted cross-doc repeat found as one exact maximal span") {
    // 10-token run planted at different offsets in two otherwise globally
    // unique docs; a third doc shares nothing.
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ")
    val docA = ((1 to 7).map(i => s"aa$i") :+ shared) ++ (1 to 5).map(i => s"ab$i")
    val docB = ((1 to 3).map(i => s"ba$i") :+ shared) ++ (1 to 9).map(i => s"bb$i")
    val docC = (1 to 30).map(i => s"cc$i")
    val docs = Seq((1L, docA.mkString(" ")), (2L, docB.mkString(" ")),
      (3L, docC.mkString(" "))).toDF("doc_id", "text")
    val out = TextDedup.substringDupSpans(docs, minTokens = 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // exactly one span per sharing doc, covering exactly the planted run:
    // doc A tokens [7,17), doc B tokens [3,13); doc C absent; the 6
    // overlapping 5-windows inside the run merged into one maximal span
    assert(out == Seq((1L, 7L, 17L, 10L), (2L, 3L, 13L, 10L)))
  }

  test("substring dedup: within-doc repeats don't count; minDocs raises the bar") {
    val run = (1 to 6).map(i => s"rep$i").mkString(" ")
    // doc 1 contains the run TWICE — but no other doc has it
    val selfDup = s"${(1 to 4).map(i => s"x$i").mkString(" ")} $run " +
      s"${(1 to 4).map(i => s"y$i").mkString(" ")} $run"
    val other = (1 to 20).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, selfDup), (2L, other)).toDF("doc_id", "text")
    assert(TextDedup.substringDupSpans(docs, minTokens = 6).isEmpty)

    // the same run in 2 docs passes minDocs=2 but not minDocs=3
    val docs2 = Seq((1L, selfDup), (2L, s"$run ${(1 to 8).map(i => s"w$i").mkString(" ")}"))
      .toDF("doc_id", "text")
    assert(TextDedup.substringDupSpans(docs2, minTokens = 6).count() == 3)
    assert(TextDedup.substringDupSpans(docs2, minTokens = 6, minDocs = 3).isEmpty)
  }

  test("substring removal: planted boilerplate excised from every doc, rest intact") {
    // the same 10-token paragraph planted in three docs at different
    // offsets; a fourth doc shares nothing and a fifth is ALL boilerplate
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ")
    val docA = ((1 to 7).map(i => s"aa$i") :+ shared) ++ (1 to 5).map(i => s"ab$i")
    val docB = ((1 to 3).map(i => s"ba$i") :+ shared) ++ (1 to 9).map(i => s"bb$i")
    val docC = (1 to 30).map(i => s"cc$i")
    val docs = Seq((1L, docA.mkString(" ")), (2L, docB.mkString(" ")),
      (3L, docC.mkString(" ")), (4L, shared)).toDF("doc_id", "text")
    val out = TextDedup.removeDupSpans(docs, minTokens = 5)
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, ((1 to 7).map(i => s"aa$i") ++ (1 to 5).map(i => s"ab$i")).mkString(" "), 10L),
      (2L, ((1 to 3).map(i => s"ba$i") ++ (1 to 9).map(i => s"bb$i")).mkString(" "), 10L),
      (3L, docC.mkString(" "), 0L),        // untouched doc passes through
      (4L, "", 10L)))                      // all-boilerplate doc → empty
  }

  test("gram window hashes: position math, short-doc guard, rolling = direct") {
    val df = Seq(Seq("a", "b", "c", "d", "e"), Seq("a", "b")).toDF("toks")
      .select(TextExprs.gramWindowHashes(col("toks"), 3).as("g"))
    val rows = df.as[Seq[Long]].collect()
    assert(rows(0).size == 3 && rows(1).isEmpty)
    // same window content → same hash regardless of position (doc 2 of the
    // pair below shares window "c d e" at a different offset)
    val two = Seq(Seq("a", "b", "c", "d", "e"), Seq("z", "c", "d", "e"))
      .toDF("toks")
      .select(TextExprs.gramWindowHashes(col("toks"), 3).as("g"))
      .as[Seq[Long]].collect()
    assert(two(0)(2) == two(1)(1)) // "c d e" window
    assert(two(0).distinct.size == 3) // distinct windows hash apart
    // invalid window widths fail at construction with a named error, not
    // an ArrayIndexOutOfBounds inside a task (n=0 would silently emit
    // len+1 garbage hashes; n<0 indexes th() negatively)
    for (bad <- Seq(0, -1)) {
      val ex = intercept[IllegalArgumentException] {
        TextExprs.GramWindowHashes(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            Array("a", "b"),
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
          bad)
      }
      assert(ex.getMessage.contains("graft_gram_hashes"))
    }
  }

  test("SQL names and Column wrappers agree on every text kernel, both hash modes") {
    // the graft_* names come from GraftExtensions, the wrappers bind the
    // same expressions through ColumnBridge; an empty token array and a
    // NULL row ride along
    Seq[(Long, String, Seq[String])](
      (1L, "the cat sat on the mat", Seq("the", "cat", "sat", "on", "the", "mat")),
      (2L, "naïve café — a résumé", Seq("naïve", "café", "—", "a", "résumé")),
      (3L, "", Seq.empty),
      (4L, null, null))
      .toDF("id", "text", "toks").createOrReplaceTempView("kernel_rows")
    val viaSql = spark.sql("""
      SELECT id, graft_shingles(toks, 2) AS sh,
             graft_minhash(graft_shingles(toks, 2), 8) AS mh_xx,
             graft_minhash(graft_shingles(toks, 2), 8, 'md5') AS mh_md5,
             graft_simhash(toks) AS sim_xx, graft_simhash(toks, 'md5') AS sim_md5,
             graft_token_set_count(toks, array('the', 'a')) AS n_stop,
             graft_fingerprint(text) AS fp, graft_gram_hashes(toks, 2) AS grams
      FROM kernel_rows ORDER BY id""")
    val sh = TextExprs.tokenShingles(col("toks"), 2)
    val viaColumns = spark.table("kernel_rows").select(col("id"), sh.as("sh"),
      TextExprs.minhashSig(sh, 8).as("mh_xx"),
      TextExprs.minhashSig(sh, 8, "md5").as("mh_md5"),
      TextExprs.simhash64(col("toks")).as("sim_xx"),
      TextExprs.simhash64(col("toks"), "md5").as("sim_md5"),
      TextExprs.tokenSetCount(col("toks"), Seq("the", "a")).as("n_stop"),
      TextExprs.fingerprintHash(col("text")).as("fp"),
      TextExprs.gramWindowHashes(col("toks"), 2).as("grams"))
      .orderBy("id")
    assert(viaSql.schema == viaColumns.schema)
    val (a, b) = (viaSql.collect().toSeq, viaColumns.collect().toSeq)
    assert(a.size == 4 && a == b)
    assert(a(3).toSeq.tail.forall(_ == null)) // NULL in, NULL out
  }

  test("simhash: identical texts collide, near texts are close, far texts far") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val near = (1 to 48).map(i => s"tok$i").mkString(" ") + " zz yy"
    val far = (200 to 250).map(i => s"abc$i").mkString(" ")
    val out = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("doc_id", "text")
      .select(col("doc_id"), simhash(col("text")).as("h"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(out(0) == out(1))
    assert(hamming(out(0), out(2)) < 12)
    assert(hamming(out(0), out(3)) > 16)
  }

  test("connected components: 400-node path collapses in O(log n) rounds") {
    // a path graph is the adversarial diameter case — plain min-label
    // propagation would need 400 iterations; large-star/small-star must
    // finish inside the default 25-round budget
    val n = 400
    val nodes = spark.range(1, n + 1).select(col("id").as("doc_id"))
    val edges = spark.range(1, n.toLong)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    // driverThreshold = 0 forces the DISTRIBUTED alternating-star path —
    // the 100 TB route must be exercised, not the driver fast path
    val out = TextDedup.connectedComponents(nodes, edges, driverThreshold = 0)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    assert(out.length == n)
    assert(out.forall(_._2 == 1L), s"not one component: ${out.filter(_._2 != 1L).take(5).mkString(",")}")
    // the driver union-find fast path must produce the identical labeling
    val fast = TextDedup.connectedComponents(nodes, edges)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect()
    assert(fast.sorted.toSeq == out.sorted.toSeq)
    // two separate components + an isolated node stay separate (both paths)
    val nodes2 = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val edges2 = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    Seq(0L, 500000L).foreach { thr =>
      val got = TextDedup.connectedComponents(nodes2, edges2, driverThreshold = thr)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L),
        s"threshold $thr")
    }
  }

  test("connected components: fast/distributed parity at the exact threshold boundary") {
    // Planted graph: a 7-chain, a triangle with a duplicate+reversed edge,
    // a 2-clique, isolated node. The fast path triggers on
    // edgeCount <= driverThreshold where edgeCount is the DEDUPED directed
    // edge set (self-loops dropped, (u,v) distinct, direction preserved) —
    // compute it exactly as the kernel does, then run at thr = E (fast
    // path, boundary-inclusive) and thr = E - 1 (distributed) and demand
    // identical labelings.
    val nodes = (1L to 12L).toDF("doc_id")
    val rawEdges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), // chain
      (8L, 9L), (9L, 10L), (10L, 8L), (8L, 9L), (9L, 8L),         // triangle + dup + reversed
      (11L, 12L), (12L, 12L))                                     // clique + self-loop
      .toDF("src", "dst")
    val e = rawEdges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v")).distinct().count()
    assert(e == 11L, s"planted edge count drifted: $e") // 6 + 4 + 1
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L,
      8L -> 8L, 9L -> 8L, 10L -> 8L, 11L -> 11L, 12L -> 11L)
    val byPath = Seq(e, e - 1).map { thr =>
      val got = TextDedup.connectedComponents(nodes, rawEdges, driverThreshold = thr)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
      assert(got == expected, s"threshold $thr: $got")
      got
    }
    assert(byPath(0) == byPath(1))
  }

  test("connected components: default driver threshold derives from driver memory") {
    // The fast-path cutoff must scale with the driver heap, not sit at a
    // constant: a 100 TB dedup graph narrowly over a constant silently
    // takes the slow path while one narrowly under OOMs a small driver.
    val at8g = TextDedup.defaultDriverThresholdFor(Some("8g"))
    val at64g = TextDedup.defaultDriverThresholdFor(Some("64g"))
    // linear in heap, modulo integer-division truncation (±8 edges)
    assert(math.abs(at64g - at8g * 8) <= 8,
      s"threshold must scale linearly with heap: $at8g vs $at64g")
    // 5% of heap / 250 B per edge: 8 GiB -> ~1.7M edges
    assert(at8g == (8L << 30) / 20 / 250, s"8g threshold drifted: $at8g")
    // UNITLESS values are MiB, matching Spark's own parse of
    // spark.driver.memory: "4096" is 4 GiB, not 4096 bytes (which would
    // mis-collapse to the floor)
    assert(TextDedup.defaultDriverThresholdFor(Some("4096")) ==
      TextDedup.defaultDriverThresholdFor(Some("4g")))
    // floor: a tiny driver still takes the fast path on fixture graphs
    assert(TextDedup.defaultDriverThresholdFor(Some("1m")) == 100000L)
    // unset / unparsable -> live JVM heap, never a throw
    assert(TextDedup.defaultDriverThresholdFor(Some("not-a-size")) >= 100000L)
    assert(TextDedup.defaultDriverThresholdFor(None) >= 100000L)
    // the session-reading wrapper resolves without throwing
    assert(TextDedup.defaultDriverThreshold(spark) >= 100000L)
  }

  test("simhash dedup pairs: exact twins at hamming 0, unrelated text absent") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      (2L, base),                                   // exact twin → hamming 0
      (3L, base + " extra"),                        // near twin → small hamming
      (4L, "completely unrelated corpus talking about databases and compilers"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.simhashDupPairs(docs, maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), s"exact twin not found: $keys")
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 0)
    assert(pairs.forall(_._3 <= 3))
    assert(!keys.exists { case (a, b) => a == 4L || b == 4L },
      s"unrelated doc paired: $keys")
  }

  test("language id: marker words dominate prediction; no markers → und") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze ist hier"),
      (3L, "xyz qqq zzz www"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(df.sameElements(Array("en", "de", "und")))
  }

  test("stratified sample: deterministic and proportional per stratum") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val fractions = Map("en" -> 1.0, "de" -> 0.5, "zh" -> 0.0)
    val sample = CorpusOps.stratifiedSample(docs, "lang", "doc_id", fractions)
    val counts = sample.groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts("en") == totals("en"))          // fraction 1.0 keeps all
    assert(!counts.contains("zh"))                // fraction 0 keeps none
    val deRatio = counts("de").toDouble / totals("de")
    assert(deRatio > 0.3 && deRatio < 0.7, s"de ratio $deRatio")
    // unset strata (es, fr) default to 0
    assert(!counts.contains("es") && !counts.contains("fr"))
    // deterministic: same sample on re-run
    val again = CorpusOps.stratifiedSample(docs, "lang", "doc_id", fractions)
      .select("doc_id").as[Long].collect().toSet
    assert(again == sample.select("doc_id").as[Long].collect().toSet)
  }

  test("exact stratified sample: exact per-stratum counts, small strata kept whole") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val sample = CorpusOps.exactStratifiedSample(docs, "lang", "doc_id", n = 20)
    val counts = sample.groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    totals.foreach { case (lang, total) =>
      assert(counts(lang) == math.min(20L, total), s"lang $lang")
    }
    // deterministic: identical id set on re-run
    val ids = sample.select("doc_id").as[Long].collect().toSet
    val again = CorpusOps.exactStratifiedSample(docs, "lang", "doc_id", n = 20)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == again)
    // the rank filter must plan as WindowGroupLimit (map-side pre-trim)
    val plan = CorpusOps.exactStratifiedSample(docs, "lang", "doc_id", n = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    intercept[IllegalArgumentException] {
      CorpusOps.exactStratifiedSample(docs, "lang", "doc_id", n = 0)
    }
  }

  test("minhash sketch aggregate: equals posexplode reference, union semantics") {
    val k = 16
    val d = Seq(
      (1L, "a", "alpha beta gamma delta epsilon zeta"),
      (2L, "a", "beta gamma delta epsilon zeta eta"),
      (3L, "b", "alpha beta gamma delta epsilon zeta"),   // == doc 1
      (4L, "c", "totally different words over here now"))
      .toDF("doc_id", "source", "text")
    val sigs = d.select(col("source"),
      TextExprs.minhashSig(
        TextExprs.tokenShingles(TextAnalysis.tokens(col("text")), 3), k).as("sig"))
    val native = sigs.groupBy(col("source"))
      .agg(TextExprs.minhashSketchAgg(col("sig"), k).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // reference form: explode positions, per-position min, reassemble
    val ref = sigs
      .select(col("source"), posexplode(col("sig")).as(Seq("pos", "v")))
      .groupBy(col("source"), col("pos")).agg(min(col("v")).as("m"))
      .groupBy(col("source"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("source"),
        transform(col("pm"), e => e.getField("m")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(native == ref)
    // a single-doc group's sketch IS the doc's signature: sources a and b
    // share doc-1's text, so b's sketch must be the element-wise >= of a's
    assert(native("a").zip(native("b")).forall { case (ua, sb) => ua <= sb })
    // disjoint text → sketches disagree nearly everywhere
    val agree = native("a").zip(native("c")).count { case (x, y) => x == y }
    assert(agree <= 2, s"disjoint sources agree on $agree/$k positions")
  }

  test("corpus curation pipeline: lang filter, quality gate, dedup keep-min") {
    val good = ("the quick brown fox is happy to run and jump in the park " +
      "because it is a fine day and the sun is out shining over the hills ") * 4
    val docs = Seq(
      (1L, "web", good),                 // kept
      (5L, "web", good),                 // exact dup of 1 → dropped (keep min)
      (2L, "web", "der hund und die katze das ist gut und schön ist es " * 20), // german → dropped
      (3L, "web", "x y z"),              // too short → quality < 0.7 → dropped
      (4L, "news", good + "extra tail")) // kept (distinct hash)
      .toDF("doc_id", "source", "text")
    // the EXACT pipeline the q53 registry entry runs, on a fixture with
    // hand-computed outcomes
    val out = TextAnalysis.curate(docs).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 4L),
      s"curation kept ${out.map(_.getLong(0)).mkString(",")}")
    assert(out.forall(_.getDouble(2) >= 0.7))
    assert(out.forall(_.getInt(3) > 0))
    val schema = TextAnalysis.qCuration.run(spark, "/root/testdata/sf0.001").columns
    assert(schema.toSeq == Seq("doc_id", "source", "quality", "n_tokens"))
  }

  test("dataset split: exhaustive, disjoint, proportional, stable") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val total = docs.count()
    val card = CorpusOps.datasetSplit(docs, trainFrac = 0.9, valFrac = 0.05)
      .as[(String, String, Long, Long)].collect().toSeq
    // exhaustive partition: per-split doc counts sum to the corpus
    assert(card.map(_._3).sum == total)
    assert(card.map(_._1).toSet == Set("train", "val", "test"))
    val bySplit = card.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val trainRatio = bySplit("train").toDouble / total
    assert(trainRatio > 0.85 && trainRatio < 0.95, s"train ratio $trainRatio")
    // stability: assignment is a pure function of doc_id — identical card
    // whatever the partitioning, and a sub-corpus (docs removed) never
    // moves a surviving doc between splits (its per-cell counts can only
    // shrink, never grow)
    val repart = CorpusOps.datasetSplit(docs.repartition(7), 0.9, 0.05)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(repart == card)
    val halfCard = CorpusOps.datasetSplit(docs.filter(col("doc_id") % 2 === 0),
      0.9, 0.05).as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val fullCard = card.map(r => (r._1, r._2) -> r._3).toMap
    halfCard.foreach { case (k, n) => assert(n <= fullCard(k), s"cell $k grew") }
    // invalid fractions fail fast
    val e = intercept[IllegalArgumentException] {
      CorpusOps.datasetSplit(docs, trainFrac = 0.9, valFrac = 0.2)
    }
    assert(e.getMessage.contains("trainFrac"))
  }

  test("fingerprint: deterministic, order-sensitive") {
    val out = Seq((1L, "abc"), (2L, "abc"), (3L, "acb"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").collect().map(_.getLong(1))
    assert(out(0) == out(1))
    assert(out(0) != out(2))
    // h("abc") = ((97*31 + 98)*31 + 99) = 96354 + ... compute: ((0*31+97)*31+98)*31+99
    val expected = ((97L * 31 + 98) * 31 + 99) % 1000000007L
    assert(out(0) == expected)
  }

  test("dedup report: cluster histogram accounts every doc and redundant char") {
    val dir = "/root/testdata/sf0.001"
    val out = TextDedup.qDedupReport.run(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val base = graft.Tables.documents(spark, dir).count()
    // corpus = base + 10 planted + 5 planted (the query's fixed planting)
    assert(out.map(_._3).sum == base + 15)
    out.foreach { case (size, nClusters, nDocs, nRedundant, redChars) =>
      assert(nDocs == size * nClusters)
      assert(nRedundant == (size - 1) * nClusters)
      if (size == 1) assert(redChars == 0)
    }
    // the planting guarantees size-2 and size-3 classes exist
    assert(out.map(_._1).toSet.intersect(Set(2L, 3L)) == Set(2L, 3L))
  }

  test("source novelty: mirror source scores near zero, originals near one") {
    val dir = "/root/testdata/sf0.001"
    val out = TextDedup.qSourceNovelty.run(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq
    val base = graft.Tables.documents(spark, dir).count()
    assert(out.map(_._2).sum == base) // every doc attributed to a source
    out.foreach { case (src, n, novel, rate) =>
      assert(novel <= n && rate == novel.toDouble / n, src)
    }
  }

  test("langid confusion: cells partition the corpus, shares sum to 1 per label") {
    val dir = "/root/testdata/sf0.001"
    val cells = TextAnalysis.qLangConfusion.run(spark, dir)
      .as[(String, String, Long, Double)].collect().toSeq
    val total = graft.Tables.documents(spark, dir).count()
    assert(cells.map(_._3).sum == total)
    cells.groupBy(_._1).foreach { case (label, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12, label)
    }
    // cells agree with the per-doc q23 predictions aggregated by hand
    val byHand = TextAnalysis.qLangId.run(spark, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang")).count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(cells.map(r => (r._1, r._2) -> r._3).toMap == byHand)
  }

  test("weighted sample: dominant weight always selected, k >= n keeps all") {
    // doc 5's weight dwarfs the rest: its race key ln(u)/w is ~0 while
    // every unit-weight doc sits around ln(u) — selection is certain
    // unless another doc's uniform lands within ~1e-6 of 1 (fixed ids:
    // deterministic, and they don't)
    val docs = (0 until 10).map(i =>
      (i.toLong, "src", if (i == 5) 1000000L else 1L))
      .toDF("doc_id", "source", "n_chars")
    val top3 = CorpusOps.weightedSample(docs, "n_chars", k = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(top3.contains(5L))
    assert(top3.size == 3)
    val all = CorpusOps.weightedSample(docs, "n_chars", k = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(all == (0 until 10).map(_.toLong).toSet)
    // zero/negative weights are excluded, invalid k fails fast
    val withZero = (0 until 3).map(i => (i.toLong, "src", i.toLong))
      .toDF("doc_id", "source", "n_chars")
    val kept = CorpusOps.weightedSample(withZero, "n_chars", k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
    intercept[IllegalArgumentException] {
      CorpusOps.weightedSample(docs, "n_chars", 0)
    }
  }

  test("weighted sample: reproducible across partitionings") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = CorpusOps.weightedSample(docs, "n_chars", 50)
      .select("doc_id").as[Long].collect().toSeq
    val b = CorpusOps.weightedSample(docs.repartition(7), "n_chars", 50)
      .select("doc_id").as[Long].collect().toSeq
    assert(a == b)
    assert(a.size == 50)
  }
}
