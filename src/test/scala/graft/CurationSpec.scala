package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFns
import graft.operators.{Curation, Similarity}
import graft.sources.Tables

class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("decontaminate counts distinct shared n-grams; short docs never flag") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated words about spark shuffles and joins here"),
      (3L, "short doc"), // < n tokens: no grams, never contaminated
      (4L, "the quick brown fox jumps high the quick brown fox jumps")
    ).toDF("doc_id", "text")
    val benchmark = Seq(
      (100L, "the quick brown fox jumps over everything")
    ).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, benchmark, "text", "doc_id",
        n = 5, minOverlap = 1)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    // doc 1 shares "the quick brown fox jumps" and "quick brown fox
    // jumps over" (2 distinct 5-grams); doc 4 repeats the first gram
    // but distinct-counts it once
    assert(out(1L) == ((2, 1)))
    assert(out(2L) == ((0, 0)))
    assert(out(3L) == ((0, 0)))
    assert(out(4L) == ((1, 1)))
  }

  test("passageDedup keeps the globally first occurrence and reassembles in order") {
    val a = "a b c d e f g h i j" // one full chunk
    val b = "k l m n o p q r s t"
    val docs = Seq(
      (1L, s"$a $b"),      // both passages first here
      (2L, s"$b zz"),      // chunk "k..t" duplicated from doc 1, then tail
      (3L, s"$a $a")       // within-doc duplicate of chunk a
    ).toDF("doc_id", "text")
    val out = Curation.passageDedup(docs, "text", "doc_id", chunkTokens = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((2, 2, s"$a $b")))
    // doc 2's first chunk is exactly b (10 tokens) -> dropped; "zz" kept
    assert(out(2L) == ((2, 1, "zz")))
    // doc 3: BOTH occurrences of chunk a drop — doc 1 owns the global
    // first occurrence (the CCNet rule: later copies vanish entirely)
    assert(out(3L) == ((2, 0, "")))
  }

  test("skew-robust passageDedup equals the window shape on a viral passage") {
    val viral = "terms of service apply to every user of this site now"
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select($"doc_id", $"text")
      .union((0 until 100).map(i =>
        (900000L + i, s"$viral unique tail number ${"x" * (i % 7 + 1)}"))
        .toDF("doc_id", "text"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Int]("n_passages"),
        r.getAs[Int]("n_kept"), r.getAs[String]("dedup_text"))
    val plain = Curation.passageDedup(docs, "text", "doc_id",
      chunkTokens = 10).collect().map(key).toSet
    val robust = Curation.passageDedup(docs, "text", "doc_id",
      chunkTokens = 10, skewRobust = true).collect().map(key).toSet
    assert(plain == robust,
      s"diverge: only-plain=${(plain -- robust).take(3)} " +
        s"only-robust=${(robust -- plain).take(3)}")
    // the viral passage must actually be shared: only its first
    // carrier keeps it
    assert(plain.count { case (id, _, nk, txt) =>
      id >= 900000L && txt.startsWith(viral) } == 1)
  }

  test("passageDedup is a no-op on an all-unique corpus") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents").limit(20)
    val out = Curation.passageDedup(docs, "text", "doc_id")
    // every doc keeps at least one passage, and n_kept <= n_passages
    assert(out.where($"n_kept" < 1 || $"n_kept" > $"n_passages").isEmpty)
  }

  test("piiRedact counts and masks emails, phones, ips") {
    val df = Seq(
      (1L, "mail me at jane.doe+x@corp.example.org or +1-555-0199 from 192.168.0.1"),
      (2L, "no pii in this row at all"),
      (3L, "two mails a@b.io c@d.net one ip 10.0.0.7")
    ).toDF("doc_id", "text")
    val out = Curation.piiRedact(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(out(1L) == ((1, 1, 1, "mail me at [EMAIL] or [PHONE] from [IP]")))
    assert(out(2L) == ((0, 0, 0, "no pii in this row at all")))
    assert(out(3L) == ((2, 1, 0, "two mails [EMAIL] [EMAIL] one ip [IP]")))
  }

  test("bloomAntiJoin equals the plain anti-join exactly") {
    val fp = Tables.load(spark, TestSpark.sfDir, "documents")
      .select($"doc_id", TextFns.fingerprint($"text").as("fingerprint"))
    val hist = fp.where($"doc_id" % 3 === 0).select("fingerprint")
    val bloom = Curation.bloomAntiJoin(fp, hist, "fingerprint",
      expectedItems = 10000L)
    // using-joins put the key first; align column order for except
    val plain = fp.join(hist, Seq("fingerprint"), "left_anti")
      .select("doc_id", "fingerprint")
    val b = bloom.select("doc_id", "fingerprint")
    assert(b.count() == plain.count())
    assert(b.except(plain).isEmpty && plain.except(b).isEmpty)
  }

  test("bloomAntiJoin passes everything through on an empty history") {
    val fp = Tables.load(spark, TestSpark.sfDir, "documents").limit(10)
      .select($"doc_id", TextFns.fingerprint($"text").as("fingerprint"))
    val empty = fp.where(lit(false)).select("fingerprint")
    assert(Curation.bloomAntiJoin(fp, empty, "fingerprint").count() == 10)
  }

  test("bloomAntiJoin keeps the filter out of the plan at the default size") {
    val fp = Tables.load(spark, TestSpark.sfDir, "documents")
      .select($"doc_id", TextFns.fingerprint($"text").as("fingerprint"))
    val hist = fp.where($"doc_id" % 3 === 0).select("fingerprint")
    // expectedItems = 1e6: a ~1 MB filter, megabytes of hex as a literal
    val qe = Curation.bloomAntiJoin(fp, hist, "fingerprint").queryExecution
    assert(qe.optimizedPlan.toString.length < 64 * 1024)
    assert(qe.executedPlan.toString.length < 64 * 1024)
  }

  test("bloomAntiJoin equals the plain anti-join with null keys, " +
    "duplicate batch keys and an empty history") {
    val batch = Seq((1L, Some("a")), (2L, Some("a")), (3L, Some("b")),
      (4L, None), (5L, None), (6L, Some("c")), (7L, Some("c")))
      .toDF("id", "k")
    val hist = Seq(Some("a"), None, Some("x"), Some("a")).toDF("k")
    def same(history: org.apache.spark.sql.DataFrame): Unit = {
      val got = Curation.bloomAntiJoin(batch, history, "k")
        .select("id", "k").collect().toSet
      val want = batch.join(history, Seq("k"), "left_anti")
        .select("id", "k").collect().toSet
      assert(got == want)
    }
    same(hist)
    // NULL keys never match, on either side
    assert(Curation.bloomAntiJoin(batch, hist, "k")
      .where($"k".isNull).count() == 2)
    // an empty history builds a NULL filter: every row is new
    same(hist.limit(0))
    assert(Curation.bloomAntiJoin(batch, hist.limit(0), "k").count() == 7)
  }

  test("semDedup drops exact-duplicate vectors within a cluster, keeps min id") {
    // 2 tight groups of identical vectors + one distinct singleton
    val mk = (base: Double) => (0 until 8).map(i => (base + i).toFloat)
    val df = Seq(
      (1L, mk(1.0)), (2L, mk(1.0)), (5L, mk(1.0)),  // dup group A
      (3L, mk(100.0)), (4L, mk(100.0)),             // dup group B
      (9L, (0 until 8).map(i => (if (i % 2 == 0) 1.0f else -1.0f)))
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(df, "vec_id", "embedding",
        nlist = 2, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    // identical vectors have cosine 1.0 regardless of cluster; each
    // dup group keeps exactly its smallest id
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(5L))
    assert(kept.contains(3L) && !kept.contains(4L))
    assert(kept.contains(9L))
  }

  test("semDedup output is consistent with its own assignment + cosine rule") {
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
    val kept = Similarity.semDedup(e, "vec_id", "embedding",
      nlist = 4, threshold = 0.5)
    val assign = Similarity.kmeansAssign(e, "vec_id", "embedding", nlist = 4)
    // kept ids carry their true cell assignment
    assert(kept.except(assign).isEmpty)
    assert(kept.count() >= 1 && kept.count() <= e.count())
  }

  test("two-level assignment regime: semDedup is consistent with " +
      "kmeansAssign, cells stay in range, identical vectors still " +
      "dedup to the smallest id") {
    // nlist 80 > twoLevelFlatMax forces the IVF-of-centroids path in
    // BOTH semDedup and kmeansAssign (the oracle dumps the latter —
    // they must move together); planted identical triplet must land
    // in one cell whatever the assignment approximation picks
    val e = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select("vec_id", "embedding").limit(400)
      .unionByName(Seq(
        (90001L, (0 until 64).map(i => (i % 7).toFloat)),
        (90002L, (0 until 64).map(i => (i % 7).toFloat)),
        (90003L, (0 until 64).map(i => (i % 7).toFloat)))
        .toDF("vec_id", "embedding"))
    val kept = Similarity.semDedup(e, "vec_id", "embedding",
      nlist = 80, threshold = 0.999)
    val assign = Similarity.kmeansAssign(e, "vec_id", "embedding",
      nlist = 80)
    assert(kept.except(assign).isEmpty,
      "semDedup and kmeansAssign assignments diverged")
    val cells = assign.select("cell").as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 80))
    val keptIds = kept.select("vec_id").as[Long].collect().toSet
    assert(keptIds.contains(90001L) && !keptIds.contains(90002L) &&
      !keptIds.contains(90003L))
  }

  test("two-level assignment degenerate case: identical centroids " +
      "collapse to ONE super-group and assignment falls back flat") {
    // 70 identical vectors, nlist 70 > twoLevelFlatMax: every trained
    // centroid is identical, the driver Lloyd collapses all groups
    // into one (empty groups drop) — must flat-assign, not crash on a
    // one-argument greatest()
    val e = (0 until 70).map(i =>
      (i.toLong, (0 until 8).map(_ => 1.0f))).toDF("vec_id", "embedding")
    val assign = Similarity.kmeansAssign(e, "vec_id", "embedding",
      nlist = 70)
    val cells = assign.select("cell").as[Int].collect()
    assert(cells.length == 70)
    // identical vectors tie on every centroid; ties break to the
    // smallest cell everywhere
    assert(cells.forall(_ == 0))
  }

  test("salted embed bucket join: same pair set as the plain join; " +
      "the hot bucket's pair work splits across triangle blocks") {
    // skewed fixture: 64 IDENTICAL vectors (one hot bucket, 2016
    // pairs on a single shuffle key unsalted) + spread singletons
    val hot = (0 until 64).map(i =>
      (i.toLong, (0 until 64).map(j => ((j % 5) + 1).toFloat)))
    val rest = (0 until 50).map(i => (1000L + i,
      (0 until 64).map(j => math.sin(i * 64 + j + 1).toFloat)))
    val df = (hot ++ rest).toDF("vec_id", "embedding")
    val plain = Similarity.cosineNearDupPairs(df, "vec_id",
      "embedding", threshold = 0.9, bits = 6, dim = 64)
    val salted = Similarity.cosineNearDupPairs(df, "vec_id",
      "embedding", threshold = 0.9, bits = 6, dim = 64, salts = 4)
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty,
      "triangle cover changed the pair set")
    // boundedness probe: no (p, q) block carries more than a ~1/6
    // share of the hot bucket's 2016 pairs (perfect 16-member groups
    // give 256; slack for hash imbalance)
    val g = (c: org.apache.spark.sql.Column) =>
      pmod(xxhash64(c), lit(4)).cast("int")
    val maxBlock = salted
      .select(least(g($"doc_a"), g($"doc_b")).as("p"),
        greatest(g($"doc_a"), g($"doc_b")).as("q"))
      .groupBy("p", "q").count()
      .agg(max("count")).head.getLong(0)
    assert(maxBlock < 500,
      s"hot-bucket pair work not spread: max block $maxBlock of 2016")
  }

  test("filterCascade reports the FIRST failing rule, in order") {
    val many = ("the and of to is in it that a an " * 5).trim // 50 stopword tokens
    val docs = Seq(
      (1L, "tiny doc"),                           // too_short
      (2L, many + " " + ("x" * 380)),             // long enough, >400 chars -> too_long
      (3L, many.split(" ").take(20).mkString(" ") +
        " 11111 22222 33333 44444 55555"),
      // ^ 25 tokens, 95 chars of which 25 digits (ratio .263) -> digit_heavy
      (4L, Seq.fill(25)("word").mkString(" ")),    // no stopwords -> low_stopword
      (5L, many)                                   // passes everything
    ).toDF("doc_id", "text")
    val out = Curation.filterCascade(docs, "text", "doc_id")
      .select("doc_id", "first_fail", "pass")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == (("too_short", 0)))
    assert(out(2L) == (("too_long", 0)))
    assert(out(3L) == (("digit_heavy", 0)))
    assert(out(4L) == (("low_stopword", 0)))
    assert(out(5L) == (("pass", 1)))
    // a doc failing several rules reports only the FIRST (cascade order)
    val shortAndDigits = Seq((9L, "1 2 3")).toDF("doc_id", "text")
    assert(Curation.filterCascade(shortAndDigits, "text", "doc_id")
      .head().getAs[String]("first_fail") == "too_short")
  }

  test("domainCap keeps at most cap docs per domain by priority, id tie-break") {
    val docs = (1L to 9L).map(i =>
      (i, if (i <= 6) "a.com" else "b.com", 100L - (i % 3))) // ties in len
      .toDF("doc_id", "domain", "len")
    val out = Curation.domainCap(docs, "domain", "doc_id", cap = 2,
        priority = Seq(col("len").desc))
      .select("doc_id", "domain", "rn")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // a.com lens: 1->99 2->98 3->100 4->99 5->98 6->100; ids 3,6 tie at
    // 100 -> min id first. b.com: 9 (100) then 7 (99)
    assert(out == Set((3L, "a.com", 1), (6L, "a.com", 2),
      (9L, "b.com", 1), (7L, "b.com", 2)))
  }

  test("stratifiedSplit hits exact per-stratum proportions and is deterministic") {
    val docs = (1L to 200L).map(i => (i, if (i % 4 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    val out = Curation.stratifiedSplit(docs, "lang", "doc_id", 80, 10)
    val counts = out.groupBy("lang", "split").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // en: 150 docs -> 120/15/15; de: 50 -> 40/5/5 (exact, not binomial)
    assert(counts(("en", "train")) == 120 && counts(("en", "val")) == 15 &&
      counts(("en", "test")) == 15)
    assert(counts(("de", "train")) == 40 && counts(("de", "val")) == 5 &&
      counts(("de", "test")) == 5)
    // same assignment on every run and under different partitioning
    val again = Curation.stratifiedSplit(docs.repartition(7), "lang",
      "doc_id", 80, 10)
    assert(out.except(again).isEmpty && again.except(out).isEmpty)
  }

  test("tfidf ranks corpus-rare terms above ubiquitous ones") {
    val docs = Seq(
      (1L, "alpha common common"),
      (2L, "beta common"),
      (3L, "gamma common")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.tfidf(docs, "text", "doc_id", k = 2)
      .collect().map(r => (r.getLong(0), r.getAs[String]("term"),
        r.getAs[Int]("rank"))).toSet
    // every doc: its unique term (df=1) outranks 'common' (df=3)
    assert(out == Set((1L, "alpha", 1), (1L, "common", 2),
      (2L, "beta", 1), (2L, "common", 2),
      (3L, "gamma", 1), (3L, "common", 2)))
  }

  test("splitLeakageFree: no dup pair ever straddles the split") {
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chains {1,2,3}, {10,11}, and a far-apart pair {20,35}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 35L))
      .toDF("doc_a", "doc_b")
    val split = Curation.splitLeakageFree(docs, "doc_id", pairs,
      "doc_a", "doc_b")
    val byId = split.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("unit"), r.getAs[String]("split")))).toMap
    // every clustered doc carries its component min-id as the unit and
    // the whole cluster shares one assignment
    assert(Seq(1L, 2L, 3L).map(byId(_)).distinct.size == 1)
    assert(byId(1L)._1 == 1L)
    assert(byId(10L) == byId(11L) && byId(10L)._1 == 10L)
    assert(byId(20L) == byId(35L) && byId(20L)._1 == 20L)
    // singletons split by their own id, same rule as mixtureSample
    assert(byId(5L)._1 == 5L)
    // all three splits are non-degenerate rule-wise: every row labeled
    assert(split.where($"split".isin("train", "val", "test")).count() == 40)
  }

  test("dsirScore ranks target-like docs above off-target docs") {
    val corpus = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "alpha beta gamma beta alpha"),
      (3L, "zed yonder quux zed quux"),
      (4L, "yonder zed quux quux zed")).toDF("doc_id", "text")
    val target = corpus.where($"doc_id" <= 2)
    val out = Curation.dsirScore(corpus, target, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("dsir_score")).toMap
    // target-vocabulary docs score ABOVE the corpus-average, the
    // off-target docs below — and every doc got all 5 tokens counted
    assert(out(1L) > 0 && out(2L) > 0, s"target-like should be > 0: $out")
    assert(out(3L) < 0 && out(4L) < 0, s"off-target should be < 0: $out")
  }

  test("dsirSelect keeps exactly the top-scoring quartile boundary") {
    val corpus = (1L to 16L).map { i =>
      // doc i repeats one of four vocab words; target favors 'alpha'
      val w = Seq("alpha", "beta", "gamma", "delta")((i % 4).toInt)
      (i, s"$w $w $w")
    }.toDF("doc_id", "text")
    val target = corpus.where($"text".contains("alpha"))
    val kept = Curation.dsirSelect(corpus, target, "text", "doc_id",
        keepPct = 25)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // exactly the alpha docs clear the 75th-percentile cut
    assert(kept == (1L to 16L).filter(_ % 4 == 0).toSet, s"kept $kept")
  }

  test("topTerms orders by frequency then term; df counts docs once") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "b b b a a c"),
      (2L, "a b x"),
      (3L, "a")).toDF("doc_id", "text")
    val out = TextAnalysis.topTerms(docs, "text", "doc_id", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("a", 4L, 3L), ("b", 4L, 2L), ("c", 1L, 1L)))
  }

  test("epochWeights bands by quality thresholds, 0 drops the tail") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val out = Curation.epochWeights(docs, "text", "doc_id")
    val byEpoch = out.groupBy($"n_epochs").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // all four bands are populated on the corpus, and the band
    // boundaries follow the scores monotonically
    assert(byEpoch.keySet == Set(4, 2, 1, 0), s"$byEpoch")
    val minByEpoch = out.groupBy($"n_epochs")
      .agg(min($"quality_score").as("mn"), max($"quality_score").as("mx"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(minByEpoch(4)._1 >= minByEpoch(2)._2 ||
      minByEpoch(4)._1 >= minByEpoch(2)._1)
    assert(minByEpoch(0)._2 <= minByEpoch(1)._1)
  }

  test("shuffleShards: 16 balanced shards, contiguous positions") {
    import graft.operators.Packing
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select($"doc_id")
    val out = Packing.shuffleShards(docs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.length == docs.count())
    val byShard = out.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0 to 15).toSet))
    // positions are 1..n within every shard (a dataloader's contract)
    byShard.foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq,
        s"shard $sh positions not contiguous")
    }
    // deterministic: same input, same layout
    val again = Packing.shuffleShards(docs, "doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(again.toSet == out.toSet)
  }

  test("chunkForRag: overlap, full tail coverage, partial last chunk, " +
      "empty and short docs") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k"), // 11 toks, chunk 4 stride 3
      (2L, "x y"),                   // shorter than one chunk
      (3L, "")).toDF("doc_id", "text")
    val out = Curation.chunkForRag(docs, "text", "doc_id",
      chunkTokens = 4, stride = 3).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1))
        .map(r => (r.getInt(2), r.getString(3))).toSeq).toMap
    // ceil((11-4)/3)+1 = 4 starts; last window partial (2 toks);
    // every token appears in some chunk
    assert(out(1L) == Seq((4, "a b c d"), (4, "d e f g"),
      (4, "g h i j"), (2, "j k")))
    assert(out(2L) == Seq((2, "x y")))
    assert(!out.contains(3L))
  }

  test("boilerplateRemove: domain templates drop everywhere, " +
      "cross-domain and sub-threshold copies survive") {
    val docs = Seq(
      // source A: "cookie banner" recurs in 3 docs (aligned 2-token
      // chunks) → boilerplate at minDocs=3, dropped from ALL of them
      (1L, "cookie banner alpha beta", "A"),
      (2L, "cookie banner gamma delta", "A"),
      (3L, "epsilon zeta cookie banner", "A"),
      // source B: same passage but only ONE doc there → kept
      (4L, "cookie banner other words", "B"),
      // empty doc: zero passages, empty clean text
      (5L, "", "A")).toDF("doc_id", "text", "source")
    val out = Curation.boilerplateRemove(docs, "text", "doc_id", "source",
      chunkTokens = 2, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out(1L) == ((2, 1, "alpha beta")))
    assert(out(2L) == ((2, 1, "gamma delta")))
    assert(out(3L) == ((2, 1, "epsilon zeta")))
    assert(out(4L) == ((2, 0, "cookie banner other words")))
    assert(out(5L) == ((0, 0, "")))
    // vs passageDedup semantics: the first occurrence is dropped too
    assert(out(1L)._3 == "alpha beta")
  }

  test("clusterSizeStats reports the size histogram") {
    import graft.operators.Graph
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val out = Graph.clusterSizeStats(pairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(3L -> 1L, 2L -> 2L))
  }
}
