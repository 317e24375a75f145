package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{CleanFns, TextFns}

/** Corpus-curation operators for training-data pipelines:
  * benchmark decontamination, passage-level dedup, PII redaction, and
  * Bloom-prefiltered dedup against a historical corpus.
  *
  * Scale posture:
  *  - decontamination broadcasts the (small) benchmark gram
  *    vocabulary — the corpus side is one scan with a map-side
  *    semi-join; only MATCHED gram rows reach the per-doc aggregate;
  *  - passage dedup shuffles (passage, id, pos) once for the global
  *    first-occurrence decision and once for reassembly — never more
  *    than the corpus text in flight;
  *  - PII redaction is a pure projection (codegen'd regexes), zero
  *    shuffles;
  *  - the Bloom anti-join replaces "shuffle the whole daily batch
  *    against the full history" with two cheap columnar scans: rows
  *    the filter rules out never shuffle at all, and only the
  *    might-contain sliver (true dups + fpp of the batch) pays the
  *    exact confirm join.
  */
object Curation {

  private def normToks(c: Column): Column =
    TextFns.tokens(TextFns.normalizeText(c))

  /** Word n-grams that are EMPTY for docs shorter than n tokens — a
    * doc that cannot contain a full n-gram cannot overlap a benchmark
    * n-gram (unlike `TextFns.wordNgramsFromToks`, which degrades to a
    * single whole-text gram for similarity use). */
  private def strictNgrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** Benchmark decontamination: per corpus doc, how many DISTINCT word
    * n-grams it shares with the benchmark set, and a contaminated
    * flag. The eval-leakage guard every training corpus needs: a doc
    * sharing a long n-gram with a benchmark item is (part of) that
    * item.
    *
    * Per-doc gram sets are deduplicated map-side (`array_distinct`
    * before the explode), so no (doc, gram) distinct shuffle exists;
    * the benchmark vocabulary is broadcast and the per-doc overlap
    * count aggregates only the rows that survived the semi-join. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String, n: Int = 5,
                    minOverlap: Int = 1): DataFrame = {
    val bGrams = benchmark
      .select(normToks(col(textCol)).as("__t"))
      .select(explode(strictNgrams(col("__t"), n)).as("gram"))
      .distinct()
    val docGrams = corpus
      .select(col(idCol), normToks(col(textCol)).as("__t"))
      .select(col(idCol),
        explode(array_distinct(strictNgrams(col("__t"), n))).as("gram"))
    val matched = docGrams
      .join(broadcast(bGrams), Seq("gram"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    corpus.select(col(idCol))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).cast("int").as("n_overlap"))
      .withColumn("contaminated",
        (col("n_overlap") >= minOverlap).cast("int"))
  }

  /** Passage-level dedup (the line-dedup of CCNet/RefinedWeb,
    * generalized): split each doc into passages — fixed token chunks
    * when the corpus has no natural line boundaries — drop every
    * passage occurrence except the globally first (smallest
    * (doc id, position)), and reassemble each doc's surviving text in
    * order. Returns (idCol, n_passages, n_kept, dedup_text).
    *
    * ONE plan instance end to end: the first-occurrence decision is a
    * window over the passage key (not a groupBy + join back, whose
    * self-joined subplans scan and re-chunk the corpus once per arm —
    * and whose pushed-down null filters re-evaluate the interpreted
    * chunk lambda per row; measured 4.5× on the whole query at
    * sf0.1: 7.5s → 1.7s). The
    * corpus is scanned and chunked exactly once; the id repartition
    * before the explode spreads the chunking work off a single input
    * file, and posexplode_outer keeps empty docs so every metric
    * derives from the same exploded frame. */
  /** @param skewRobust false (default): first occurrence per passage
    *        via a window over (passage) — ONE pass over the chunked
    *        corpus, but a viral boilerplate passage lands its whole
    *        partition in one task's window buffer (spill-correct,
    *        slow). true: two-phase aggregation — map-side-combined
    *        min per passage, then a join back; the hot passage's rows
    *        partial-aggregate in parallel and the join streams
    *        (AQE skew-splits it), at the cost of deriving the chunk
    *        rows twice. Identical output either way — the robust twin
    *        is held to the same oracle. */
  /** Fixed-token chunking of a tokenized column `__t` into passage
    * strings — shared by [[passageDedup]] and [[boilerplateRemove]]. */
  private def chunkExpr(chunkTokens: Int): Column =
    when(size(col("__t")) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0),
          ceil(size(col("__t")).cast("double") / chunkTokens).cast("int") - 1),
        i => concat_ws(" ",
          slice(col("__t"), i * chunkTokens + 1, lit(chunkTokens)))))

  def passageDedup(df: DataFrame, textCol: String, idCol: String,
                   chunkTokens: Int = 10,
                   skewRobust: Boolean = false): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1: $chunkTokens")
    val chunks = chunkExpr(chunkTokens)
    val src = df.select(col(idCol), normToks(col(textCol)).as("__t"))
    val p = src
      .transform(Dedup.spread(_, idCol))
      .select(col(idCol), chunks.as("__ps"))
      .select(col(idCol),
        posexplode_outer(col("__ps")).as(Seq("pos", "passage")))
    // global first occurrence per passage text: min (doc id, pos)
    val keyStruct = struct(col(idCol).as("id"), col("pos").as("p"))
    val flagged =
      if (!skewRobust) {
        val winP = org.apache.spark.sql.expressions.Window
          .partitionBy(col("passage"))
        p.withColumn("__keep",
          col("passage").isNotNull && keyStruct === min(keyStruct).over(winP))
      } else {
        val firstOcc = p.where(col("passage").isNotNull)
          .groupBy(col("passage")).agg(min(keyStruct).as("__mn"))
        p.join(firstOcc, Seq("passage"), "left")
          .withColumn("__keep",
            col("passage").isNotNull && keyStruct === col("__mn"))
          .drop("__mn")
      }
    flagged
      .groupBy(col(idCol))
      .agg(
        count(col("pos")).cast("int").as("n_passages"),
        count(when(col("__keep"), 1)).cast("int").as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("pos"), col("passage"))))),
          s => s.getField("passage"))).as("dedup_text"))
  }

  /** RAG/embedding-prep chunking: fixed `chunkTokens`-token windows
    * every `stride` tokens (stride < chunkTokens ⇒ overlap, the
    * standard retrieval-chunk shape so no sentence straddles a hard
    * boundary unseen). Start positions 0, stride, 2·stride, …; the
    * final window may be partial but every token is covered (unlike
    * frame sampling, which drops the tail — lost corpus content is
    * not acceptable in an indexing path). Returns
    * (idCol, chunk_idx, n_tokens, chunk_text); empty docs yield no
    * rows.
    *
    * Scale shape: one scan → tokenize → per-doc window fan-out via
    * posexplode (rows grow by ~chunkTokens/stride, a constant); the
    * id repartition before the explode spreads chunking work and is
    * the ONLY exchange. */
  def chunkForRag(df: DataFrame, textCol: String, idCol: String,
                  chunkTokens: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1 && stride <= chunkTokens,
      s"bad chunk/stride $chunkTokens/$stride")
    val src = df.select(col(idCol), normToks(col(textCol)).as("__t"))
    val nStarts = when(size(col("__t")) === 0, lit(0)).otherwise(
      ceil(greatest(size(col("__t")) - chunkTokens, lit(0))
        .cast("double") / stride).cast("int") + 1)
    src
      .transform(Dedup.spread(_, idCol))
      .select(col(idCol), col("__t"),
        // sequence(0, -1) DESCENDS in Spark — empty docs must short-
        // circuit to an empty array, not fan out two bogus windows
        posexplode(when(nStarts === 0,
          array().cast("array<array<string>>")).otherwise(
          transform(sequence(lit(0), nStarts - 1), i =>
            slice(col("__t"), i * stride + 1, lit(chunkTokens)))))
          .as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx").cast("int").as("chunk_idx"),
        size(col("__c")).cast("int").as("n_tokens"),
        concat_ws(" ", col("__c")).as("chunk_text"))
  }

  /** Content-defined chunking over the corpus — the rsync/FastCDC
    * boundary rule, the chunk grain that byte-level dedup and delta
    * storage operate on (an edit only reshapes the chunks it touches;
    * every later chunk hash survives, unlike fixed-stride windows).
    * Boundaries come from [[graft.plans.CdcChunks]] — one O(n) codegen
    * loop per document, NO char-level explode (at 100 TB a per-char
    * row would be 100 T rows; here the only explode is per-CHUNK,
    * ~len/divisor rows per doc). Embarrassingly parallel: zero
    * shuffles, the chunk rows inherit the scan's partitioning.
    * Returns (idCol, chunk_idx (1-based), start (1-based code-point
    * offset into the normalized text), len, chunk_md5). */
  def cdcChunks(df: DataFrame, textCol: String, idCol: String,
                divisor: Int = 64, minLen: Int = 1,
                maxLen: Int = Int.MaxValue): DataFrame = {
    val norm = TextFns.normalizeText(col(textCol))
    val chunks = GraftColumnBridge.column(graft.plans.CdcChunks(
      GraftColumnBridge.expression(norm), divisor, minLen, maxLen))
    df.select(col(idCol), posexplode(chunks).as(Seq("__i", "__c")))
      .select(col(idCol), (col("__i") + 1).cast("int").as("chunk_idx"),
        col("__c.start").as("start"),
        length(col("__c.chunk")).as("len"),
        md5(col("__c.chunk")).as("chunk_md5"))
  }

  /** Byte-level dedup report over content-defined chunks — what CDC
    * chunking is FOR: chunks shared by ≥ 2 documents are duplicated
    * byte regions (mirrored boilerplate, syndicated passages, copied
    * files) that survive token-level dedup because their hosts differ
    * elsewhere. Per document: chunk count, total chars, chars living
    * in shared chunks, and the duplicated-share in micro units.
    *
    * Scale shape: rides [[cdcChunks]]' zero-shuffle scan; the shared-
    * chunk table groups on the DISPERSED chunk_md5 key (a viral chunk
    * partial-aggregates map-side — never a pair join), then joins
    * back on the same key; per-doc rollup keys on the id. */
  def cdcDedupStats(df: DataFrame, textCol: String, idCol: String,
                    divisor: Int = 64): DataFrame = {
    // hash-partition the chunk rows by chunk_md5 ONCE: the shared-
    // chunk aggregate and the join both consume that clustering, and
    // the two consumers canonicalize to the SAME exchange — so the
    // chunking kernel + md5 run once at runtime (ReusedExchange), not
    // once per subtree (chunks itself has no shuffle to reuse)
    val parts = cdcChunks(df, textCol, idCol, divisor)
      .repartition(col("chunk_md5"))
    val shared = parts.groupBy(col("chunk_md5"))
      .agg(countDistinct(col(idCol)).as("__nd"))
    // both sides are ALREADY hash-clustered on chunk_md5 — a shuffle
    // hash join is exchange-free and each partition builds only its
    // slice of the shared table; the AQE broadcast flip would instead
    // rebuild the FULL chunk-vocabulary map in every task
    parts.join(shared.hint("shuffle_hash"), Seq("chunk_md5"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).cast("long").as("total_len"),
        sum(when(col("__nd") >= 2, col("len")).otherwise(0))
          .cast("long").as("dup_len"))
      .withColumn("dup_micro",
        floor(col("dup_len") * lit(1000000.0) / col("total_len"))
          .cast("long"))
  }

  /** Boilerplate removal (CCNet/RefinedWeb-style, chunk-generalized):
    * a passage that recurs across ≥ `minDocs` DISTINCT documents of
    * the same `domainCol` group is boilerplate (nav bars, footers,
    * cookie banners — template text, not content) and is dropped from
    * EVERY document, including the first. The complement of
    * [[passageDedup]]: that keeps one global copy of a repeated
    * passage; this removes all copies of *domain-templated* ones.
    * Returns (idCol, n_passages, n_boiler, clean_text).
    *
    * Scale shape: one scan → chunk → (domain, passage) distinct-doc
    * count (partial-aggregates map-side; a viral template passage is
    * just one hot group, never a pair join). The surviving boilerplate
    * table is template-vocabulary-sized — passages repeated ≥minDocs
    * times within one domain — a sliver vs the corpus, so it
    * BROADCASTS back onto the chunk rows; the final per-doc
    * reassembly reuses the id-keyed exchange from the repartition
    * before the explode. */
  def boilerplateRemove(df: DataFrame, textCol: String, idCol: String,
                        domainCol: String, chunkTokens: Int = 2,
                        minDocs: Int = 3): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1: $chunkTokens")
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val src = df.select(col(idCol), col(domainCol).as("__dom"),
      normToks(col(textCol)).as("__t"))
    val p = src
      .transform(Dedup.spread(_, idCol))
      .select(col(idCol), col("__dom"), chunkExpr(chunkTokens).as("__ps"))
      .select(col(idCol), col("__dom"),
        posexplode_outer(col("__ps")).as(Seq("pos", "passage")))
    val boiler = p.where(col("passage").isNotNull)
      .groupBy(col("__dom"), col("passage"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("__dom"), col("passage"), lit(true).as("__boiler"))
    p.join(broadcast(boiler), Seq("__dom", "passage"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("pos")).cast("int").as("n_passages"),
        count(when(col("__boiler"), 1)).cast("int").as("n_boiler"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("passage").isNotNull && col("__boiler").isNull,
              struct(col("pos"), col("passage"))))),
          s => s.getField("passage"))).as("clean_text"))
  }

  /** Intra-corpus span overlap — the exact-substring dedup SIGNAL
    * (Lee et al. 2022's "Deduplicating Training Data Makes Language
    * Models Better", approximated suffix-array-free): per document,
    * the fraction of its distinct word `n`-gram windows that also
    * occur in ANOTHER document. A doc with a high ratio is largely
    * made of text that exists elsewhere — the next candidate for
    * dropping or passage-level surgery after exact/near dedup.
    *
    * Scale shape: per-doc gram sets are deduplicated map-side
    * (`array_distinct` before the explode), grams shuffle as md5
    * digests (16 bytes, never the gram text), the gram→doc-count
    * aggregate partial-aggregates map-side, and only grams seen in
    * ≥2 docs come back through the (broadcast-eligible, sliver-sized)
    * join. Returns every doc as (idCol, n_grams, n_shared,
    * overlap_ratio). */
  def spanOverlap(df: DataFrame, textCol: String, idCol: String,
                  n: Int = 8): DataFrame = {
    val dg = df
      .select(col(idCol), normToks(col(textCol)).as("__t"))
      .select(col(idCol),
        explode_outer(array_distinct(strictNgrams(col("__t"), n)))
          .as("gram"))
      .select(col(idCol), md5(col("gram")).as("__g"))
    // one doc counts once per gram (sets were deduplicated map-side),
    // so count(*) IS the doc count
    val shared = dg.where(col("__g").isNotNull)
      .groupBy(col("__g")).agg(count(lit(1)).as("__docs"))
      .where(col("__docs") >= 2)
      .select(col("__g"), lit(1).as("__shared"))
    dg.join(shared, Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("__g")).cast("int").as("n_grams"),
        count(col("__shared")).cast("int").as("n_shared"),
        CleanFns.roundRepro(
          count(col("__shared")) /
            greatest(count(col("__g")), lit(1)).cast("double"), 4)
          .as("overlap_ratio"))
  }

  // PII patterns (shared with the DuckDB oracle — RE2/Java-portable:
  // no lookaround, no backreferences)
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+\\d{1,2}-\\d{3}-\\d{4}"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction: count and mask emails, phone numbers, and IPv4
    * addresses. A single codegen'd projection — counts come from the
    * original text, the redacted text replaces in email → phone → ip
    * order (so an address inside an email is consumed by the email
    * mask first). Zero shuffles. */
  def piiRedact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
      size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        .cast("int").as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(IpRe), lit(0)))
        .cast("int").as("n_ips"),
      size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0)))
        .cast("int").as("n_phones"),
      redactText(col(textCol)).as("redacted"))

  /** The redaction itself as a pure column expression — callers that
    * only need the redacted text (no per-kind counts) apply it in
    * place rather than joining [[piiRedact]]'s frame back on the id. */
  def redactText(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRe), lit("[EMAIL]")),
        lit(PhoneRe), lit("[PHONE]")),
      lit(IpRe), lit("[IP]"))

  /** Default audit-cascade rules, in evaluation order. Conditions
    * reference the metric columns [[filterCascade]] computes
    * (`n_tokens`, `n_chars`, `digit_ratio`, `stopword_ratio`). */
  val DefaultCascade: Seq[(String, Column)] = Seq(
    "too_short" -> (col("n_tokens") < 20),
    "too_long" -> (col("n_chars") > 400),
    "digit_heavy" -> (col("digit_ratio") > 0.2),
    "low_stopword" -> (col("stopword_ratio") < 0.03))

  /** Quality-filter cascade WITH AUDIT: every document gets the name
    * of the FIRST rule that rejected it (or 'pass'), not just a keep
    * bit. Real curation pipelines need the per-rule attrition
    * accounting — "how many docs did each filter cost?" is the first
    * question asked of any new filter — and recording the first
    * failure makes the cascade one pure projection per document
    * instead of one pass per rule.
    *
    * Metrics reuse the exact q_text_quality formulas (identical
    * rounding), so rule thresholds mean the same thing here and
    * there. Zero shuffles; scales linearly with corpus size. */
  def filterCascade(df: DataFrame, textCol: String, idCol: String,
                    rules: Seq[(String, Column)] = DefaultCascade)
      : DataFrame = {
    require(rules.nonEmpty, "filterCascade needs at least one rule")
    val t = col(textCol)
    val nTok = TextFns.tokenCount(t)
    val digits = size(regexp_extract_all(t, lit("[0-9]"), lit(0)))
    val stops = TextFns.tokenHits(lower(t), TextAnalysis.Stopwords)
    val metrics = df.select(col(idCol),
      length(t).as("n_chars"),
      nTok.as("n_tokens"),
      CleanFns.roundRepro(
        digits / greatest(length(t), lit(1)).cast("double"), 4)
        .as("digit_ratio"),
      CleanFns.roundRepro(
        stops / greatest(nTok, lit(1)).cast("double"), 4)
        .as("stopword_ratio"))
    val firstFail = rules.foldRight(lit("pass")) {
      case ((name, fails), els) => when(fails, lit(name)).otherwise(els)
    }
    metrics.withColumn("first_fail", firstFail)
      .withColumn("pass", (col("first_fail") === "pass").cast("int"))
  }

  /** Per-domain document cap (the boilerplate guard of web-scale
    * corpora: no single site may dominate the training mix): keep at
    * most `cap` documents per domain, preferring by `priority` (e.g.
    * longest first), deterministically tie-broken by id.
    *
    * One shuffle of (id, domain, priority columns) — the document
    * text never moves; the join back to full rows is by id on the
    * surviving sliver only, if the caller wants payloads. For a
    * pathological single hot domain the window serializes on one
    * task, but the state is one counter — rows stream through; a
    * two-phase per-partition pre-cap (cap within partition, then
    * global) bounds even that if ever needed. */
  def domainCap(df: DataFrame, domainCol: String, idCol: String,
                cap: Int, priority: Seq[Column] = Nil): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(priority :+ col(idCol).asc: _*)
    df.withColumn("rn", row_number().over(w).cast("int"))
      .where(col("rn") <= cap)
  }

  /** Deterministic stratified train/val/test split with EXACT
    * per-stratum proportions: within each stratum, rows are ranked by
    * md5(id) (portable, seedless) and the first
    * floor(n·trainPct/100) go to train, the next floor(n·(trainPct+
    * valPct)/100) boundary to val, the rest to test. Unlike a
    * hash-threshold split (mixtureSample's mechanism), small strata
    * get exactly their proportions, not a binomial draw around them.
    *
    * One shuffle of (id, stratum); integer boundary arithmetic so any
    * engine derives the identical assignment. */
  def stratifiedSplit(df: DataFrame, stratumCol: String, idCol: String,
                      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percentages: train=$trainPct val=$valPct")
    val w = Window.partitionBy(col(stratumCol))
    val rn = row_number().over(
      w.orderBy(md5(col(idCol).cast("string")), col(idCol)))
    df.withColumn("__rn", rn)
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("split",
        when(col("__rn") * 100 <= col("__n") * trainPct, lit("train"))
          .when(col("__rn") * 100 <= col("__n") * (trainPct + valPct),
            lit("val"))
          .otherwise(lit("test")))
      .drop("__rn", "__n")
  }

  /** Leakage-free train/val/test split: documents of the same near-dup
    * CLUSTER always land on the same side — the pair set says "these
    * are the same content", so a near-copy of a training doc in the
    * test split is evaluation leakage. The split UNIT is the doc's
    * component representative (min id over its transitive cluster;
    * docs in no pair are their own unit), and assignment is the same
    * seedless md5-threshold rule as `Analytics.mixtureSample`, applied
    * to the unit id — so every cluster member shares the draw.
    *
    * Hash thresholds (binomial around the percentages), not exact
    * ranks: no global count, the scoring pass is map-only after one
    * key-hashed join with the (pair-node-sized, not corpus-sized)
    * component labels, and assignments never move as the corpus
    * grows. */
  def splitLeakageFree(df: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String, bCol: String, trainPct: Int = 80,
                       valPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percentages: train=$trainPct val=$valPct")
    splitLeakageFreeFromComps(df, idCol,
      Graph.connectedComponents(pairs, aCol, bCol), trainPct, valPct)
  }

  /** `splitLeakageFree` from precomputed component labels (node, comp)
    * — one CC run can feed every survivors-family report. */
  def splitLeakageFreeFromComps(df: DataFrame, idCol: String,
                                components: DataFrame, trainPct: Int = 80,
                                valPct: Int = 10): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percentages: train=$trainPct val=$valPct")
    val comps = components
      .withColumnRenamed("node", idCol).withColumnRenamed("comp", "unit")
    val b = substring(md5(col("unit").cast("string")), 1, 2)
    df.join(comps, Seq(idCol), "left")
      .withColumn("unit", coalesce(col("unit"), col(idCol)))
      .withColumn("split",
        when(b < lit(Analytics.md5Bound(trainPct)), lit("train"))
          .when(b < lit(Analytics.md5Bound(trainPct + valPct)), lit("val"))
          .otherwise(lit("test")))
  }

  /** DSIR-shaped importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * corpus doc by how much more likely its tokens are under the
    * TARGET domain's hashed-unigram distribution than under the
    * corpus's own — the standard cheap proxy for "select web data
    * that looks like the high-quality target".
    *
    * Features are tokens hashed into 256 buckets via the first two
    * md5 hex chars (engine-portable, so the oracle re-derives BOTH
    * distributions independently); both distributions get add-one
    * smoothing; a doc's score is the MEAN per-token log ratio
    * ln(p_target(b)/p_corpus(b)), so it is length-comparable.
    * score > 0 ⇒ doc looks more like the target than like the corpus.
    *
    * Scale shape: two corpus scans (distribution build + scoring) and
    * one target scan; the 256-row weight table broadcasts, so scoring
    * is a map-side join + one per-doc aggregation. At 100 TB, build
    * the distributions on a sample — the scoring pass is the only
    * stage that must see every doc. */
  def dsirScore(corpus: DataFrame, target: DataFrame, textCol: String,
                idCol: String): DataFrame = {
    val B = 256
    val tok = (df: DataFrame) => df.select(col(idCol),
        explode(TextFns.tokens(TextFns.normalizeText(col(textCol))))
          .as("__t"))
      .select(col(idCol), substring(md5(col("__t")), 1, 2).as("__b"))
    val corpusToks = tok(corpus)
    // both distributions are 256 rows by construction — collect them
    // and ship the per-bucket log ratio back as ONE literal map (the
    // literal-centroid pattern): the scoring pass is then a pure
    // projection + per-doc aggregate, and no totals/weights subplans
    // re-scan the corpus (plan-audited: 5 scans → 3, no joins).
    // Math.log here is the same JVM intrinsic Spark's log codegen
    // calls, so the values are bit-identical to the composed form.
    val ccRows = corpusToks.groupBy(col("__b"))
      .agg(count(lit(1)).as("c")).collect()
    val ctMap = tok(target).groupBy(col("__b"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tc = ccRows.map(_.getLong(1)).sum
    val tt = ctMap.values.sum
    val lrMap = ccRows.map { r =>
      val b = r.getString(0)
      b -> (math.log((ctMap.getOrElse(b, 0L) + 1).toDouble / (tt + B)) -
        math.log((r.getLong(1) + 1).toDouble / (tc + B)))
    }.toMap
    corpusToks
      .select(col(idCol), element_at(typedlit(lrMap), col("__b")).as("__lr"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_toks"),
        CleanFns.roundRepro(avg(col("__lr")), 4).as("dsir_score"))
  }

  /** Epoch weighting — the data-REPETITION knob of a training mix
    * (see e.g. the "multiple epochs over high-quality subsets" recipe
    * in public LLM data ablations): each doc gets the number of
    * training epochs of its quality BAND. Bands are cut at the exact
    * quartile thresholds of the (rounded) quality score — computed in
    * ONE aggregation and broadcast, so the assignment is a map-only
    * projection, never a global rank/ntile (a single-partition window
    * at 100 TB). Equal scores land in the same band by construction.
    * Returns (idCol, quality_score, n_epochs); `epochs` maps the
    * bands best→worst, and a 0 means "drop entirely". */
  def epochWeights(df: DataFrame, textCol: String, idCol: String,
                   epochs: Seq[Int] = Seq(4, 2, 1, 0)): DataFrame = {
    require(epochs.length == 4, s"need 4 band weights: $epochs")
    val scored = TextAnalysis.qualityScore(df, textCol, idCol)
      .select(col(idCol), col("quality_score"))
    val thr = scored.agg(
      percentile(col("quality_score"), lit(0.75)).as("__p75"),
      percentile(col("quality_score"), lit(0.5)).as("__p50"),
      percentile(col("quality_score"), lit(0.25)).as("__p25"))
    scored.crossJoin(broadcast(thr))
      .withColumn("n_epochs",
        when(col("quality_score") >= col("__p75"), lit(epochs(0)))
          .when(col("quality_score") >= col("__p50"), lit(epochs(1)))
          .when(col("quality_score") >= col("__p25"), lit(epochs(2)))
          .otherwise(lit(epochs(3))))
      .drop("__p75", "__p50", "__p25")
  }

  /** The DSIR SELECTION step: keep the top `keepPct` percent of the
    * corpus by importance score. Deterministic and engine-portable:
    * the cut is the exact (interpolated) (100−keepPct)th percentile
    * of the ROUNDED scores — computed in one aggregation pass and
    * broadcast — so selection is a map-only filter, never a global
    * sort/rank. Comparing rounded scores against a threshold derived
    * from the same rounded scores keeps the boundary decision
    * bit-identical across engines. Returns the kept scored rows. */
  def dsirSelect(corpus: DataFrame, target: DataFrame, textCol: String,
                 idCol: String, keepPct: Int = 25): DataFrame = {
    require(keepPct >= 1 && keepPct <= 100, s"bad keepPct $keepPct")
    val scored = dsirScore(corpus, target, textCol, idCol)
    val thr = scored.agg(
      percentile(col("dsir_score"), lit((100 - keepPct) / 100.0))
        .as("__thr"))
    scored.crossJoin(broadcast(thr))
      .where(col("dsir_score") >= col("__thr"))
      .drop("__thr")
  }

  /** URL canonicalization — the step a web-scale corpus runs BEFORE
    * URL dedup, because the same page hides behind casing, default
    * ports, fragments, tracking params, and query-order noise. Rules
    * (each a pure codegen string op, no UDFs):
    *  - strip the fragment (#…);
    *  - lowercase scheme and authority;
    *  - drop the scheme's default port (http :80, https :443);
    *  - strip trailing slashes from the path ("" → "/");
    *  - drop tracking params (utm_*, fbclid, gclid) and empty params,
    *    then SORT the survivors (query order never distinguishes
    *    resources in practice; sorting makes equality canonical).
    * Everything else (userinfo, %-encoding, IDN) passes through
    * untouched — conservative: two URLs canonicalize equal only when
    * the rules prove they match. */
  def canonicalizeUrl(url: Column): Column = {
    val base = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(base, "^([^:/?]+)://", 1))
    val rest = regexp_replace(base, "^[^:/?]+://", "")
    val auth = lower(regexp_extract(rest, "^([^/?]+)", 1))
    val authNoPort =
      when(scheme === "http", regexp_replace(auth, ":80$", ""))
        .when(scheme === "https", regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    // path = rest minus authority, up to the query
    val pq = substring_index(rest, "?", 1)
    val path = regexp_replace(pq, "^[^/?]+", "")
    val pathNorm0 = regexp_replace(path, "/+$", "")
    val pathNorm = when(pathNorm0 === "", lit("/")).otherwise(pathNorm0)
    val query = when(rest.contains("?"),
      regexp_replace(rest, "^[^?]*\\?", "")).otherwise(lit(""))
    val params = array_sort(filter(split(query, "&"), p =>
      (p =!= "") && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)")))
    val qstr = array_join(params, "&")
    concat(scheme, lit("://"), authNoPort, pathNorm,
      when(qstr =!= "", concat(lit("?"), qstr)).otherwise(lit("")))
  }

  /** Exact anti-join of a new batch against a historical key set, with
    * a Bloom prefilter. The result EXACTLY equals
    * `newDf LEFT ANTI JOIN history` — Bloom negatives are definitely
    * absent and bypass the join entirely; possible positives (true
    * dups + ~fpp of the batch) are re-checked by the exact join, so
    * false positives cannot drop rows.
    *
    * This is the daily-load dedup at 100 TB: the filter over billions
    * of historical fingerprints fits in memory (~1.2 GB at 1e9 keys /
    * 1% fpp), the batch streams through it map-side twice (two
    * columnar scans beat one full-batch shuffle), and the confirm
    * join's stream side is the sliver that might match. The history
    * side of the confirm join should be bucketed by the key in a real
    * deployment so it never reshuffles either.
    *
    * The filter is built by Spark's own BloomFilterAggregate and
    * probed through a scalar subquery — the shape Spark's runtime
    * filter (InjectRuntimeFilter) injects. The build runs once per
    * execution of the result (subquery reuse shares it between both
    * branches) and the plan carries only the subquery, never the
    * filter's bytes: a 1e6-item filter is ~1 MB, and as a binary
    * literal every plan rendering (cache names, SQL execution events,
    * AQE updates) would hex-format it again. An empty history yields
    * a NULL filter, which `coalesce` turns into "definitely new". */
  def bloomAntiJoin(newDf: DataFrame, history: DataFrame, keyCol: String,
                    expectedItems: Long = 1000000L): DataFrame = {
    val hashed = GraftColumnBridge.expression(xxhash64(col(keyCol)))
    val bf = history.select(GraftColumnBridge.column(
      new BloomFilterAggregate(hashed, expectedItems).toAggregateExpression()))
      .scalar()
    val might = coalesce(GraftColumnBridge.column(BloomFilterMightContain(
      GraftColumnBridge.expression(bf), hashed)), lit(false))
    val hk = history.select(col(keyCol)).distinct()
    newDf.where(!might)
      .unionByName(newDf.where(might).join(hk, Seq(keyCol), "left_anti"))
  }
}
