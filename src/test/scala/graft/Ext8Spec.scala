package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}

/** Round-8 plan-shape pins: the q151 node-id fix (no global window on
  * the domain set) and the no-pinned-storage contract for the two
  * queries that previously cut in-plan (q151's sampler chain, q83's
  * fingerprint frame). */
class Round8PlanShapeSpec extends SparkSpec {

  import graft.queries.Catalog

  private def globalWindows(plan: LogicalPlan): Seq[LWindow] =
    plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }

  private def run(name: String): DataFrame = {
    val df = Catalog.all.find(_.name == name).get.fn(spark, sf())
    df.count()
    df
  }

  test("q151 authority sample: no single-partition global window " +
      "anywhere in the plan — node ids ride a hash-keyed aggregate") {
    val df = Catalog.all.find(_.name == "q151_authority_sample").get
      .fn(spark, sf())
    val bad = globalWindows(df.queryExecution.optimizedPlan)
    assert(bad.isEmpty,
      s"q151 grew ${bad.size} partition-less window(s) — every distinct " +
        s"domain would funnel through ONE task at crawl scale:\n" +
        bad.map(_.windowExpressions.mkString(", ")).mkString("\n"))
  }

  test("q151 and q83 pin no persistent storage: barriers, not " +
      "checkpoints, for lazily-returned catalog compositions") {
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    run("q151_authority_sample")
    run("q83_bloom_blocklist")
    // "no NEW pinned storage" rather than a global isEmpty: suites
    // share the session and run in parallel (JsonSourceSpec documents
    // the same pattern)
    assert(spark.sparkContext.getPersistentRDDs.keySet
        .subsetOf(pinnedBefore),
      "q151/q83 must not pin blocks a lazy catalog frame cannot release")
  }

  test("bpe tie-break is UTF-8 byte order: an astral-plane symbol loses " +
      "a count tie to U+E000 (UTF-16 tuple order would pick the emoji)") {
    import spark.implicits._
    // one occurrence each: pair (U+1F600 emoji, a) vs pair (U+E000,
    // b). In UTF-16, the surrogate D83D sorts below E000 -> Java
    // tuple order would merge the emoji pair first; in UTF-8
    // (F0 9F 98 80 vs EE 80 80) the emoji sorts ABOVE all of the
    // BMP -> the oracles' ORDER BY l, r picks (U+E000, b). The merge
    // list must follow UTF-8 or every later round diverges.
    val emoji = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    val corpus = Seq((1L, s"${emoji}a ${pua}b")).toDF("doc_id", "text")
    val m = graft.ext.Bpe.train(corpus, "text", k = 1).collect()
    assert(m.length == 1)
    assert(m(0).getString(1) == pua && m(0).getString(2) == "b",
      s"tie resolved to (${m(0).getString(1)}, ${m(0).getString(2)}) " +
        "- not the UTF-8-least pair")
  }

  test("bpe pair-table guard fires loudly when the alphabet's pair " +
      "cardinality exceeds maxPairs, instead of exhausting the driver") {
    import spark.implicits._
    // 12 distinct symbols in one word → 11 distinct adjacent pairs
    val corpus = Seq((1L, "abcdefghijkl")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.ext.Bpe.train(corpus, "text", k = 1, maxPairs = 4)
    }
    assert(e.getMessage.contains("maxPairs"),
      s"guard message must name the bound: ${e.getMessage}")
    // and the same corpus trains fine when the bound accommodates it
    assert(graft.ext.Bpe.train(corpus, "text", k = 1, maxPairs = 64)
      .collect().length == 1)
  }

  test("q157 fertility drops a zero-token language entirely (no NaN " +
      "row) — engine mirrors the oracle's tokens-join semantics") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q157nan").toString
    // language "zz" has only empty/whitespace docs → zero tokens:
    // the oracle's tokens-join drops it, so the engine must too —
    // an (n_bpe_tokens=0, n_words=0, fertility=NaN) row would
    // hash-mismatch on exactly this fixture
    Seq((1L, "the cat sat", "en", "a.com"),
        (2L, "le chat", "fr", "b.com"),
        (3L, "", "zz", "c.com"),
        (4L, "   ", "zz", "c.com"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Catalog.all.find(_.name == "q157_fertility").get
      .fn(spark, dir).collect()
    val langs = out.map(_.getString(0)).toSet
    assert(langs == Set("en", "fr"), s"got $langs")
    assert(out.forall(r => !r.getDouble(3).isNaN && r.getLong(2) > 0),
      "fertility must never divide by zero")
  }

  test("unigram train: maximal munch picks longest pieces, prune keeps " +
      "chars + top multi-char by usage, scores come from the final round") {
    import spark.implicits._
    // wc: abab x2, cd x1. Candidates (weighted freq >= 2): ab, ba,
    // aba, bab, abab (cd occurs once -> dropped). Round 1 munches
    // abab -> [abab], cd -> [c, d]; prune keeps the one used
    // multi-char piece; round 2 scores.
    val docs = Seq((1L, "abab cd"), (2L, "abab")).toDF("doc_id", "text")
    val out = graft.ext.Unigram.train(docs, "text").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(out.keySet == Set("a", "b", "c", "d", "abab"), s"got $out")
    assert(out("abab") == (4, 2L))
    assert(out("c") == (1, 1L) && out("d") == (1, 1L))
    assert(out("a") == (1, 0L) && out("b") == (1, 0L),
      "chars absorbed into abab must survive pruning with usage 0")
  }

  test("unigram encode: out-of-vocabulary positions fall back to " +
      "single-char unknown pieces, zero-token docs produce no row") {
    import spark.implicits._
    val docs = Seq((1L, "abx zz"), (2L, "ab ab"), (3L, "  "))
      .toDF("doc_id", "text")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.ext.Unigram.encodeTokenCounts(docs, "text", "doc_id",
      Seq("ab")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // abx = ab + x(unk) = 2; zz = 2 unks; doc2 = ab + ab = 2
    assert(out == Map(1L -> 4L, 2L -> 2L), s"got $out")
    assert(spark.sparkContext.getPersistentRDDs.keySet
        .subsetOf(pinnedBefore),
      "encode must stay storage-free (ShuffleBarrier, not checkpoints)")
  }

  test("url canonicalizer: each rule fires — case, default/custom port, " +
      "www, trailing slash, query sort, fragment, bare host") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://WWW.Ex.COM:80/A/?b=2&a=1#f", "http://ex.com/A?a=1&b=2"),
      ("http://ex.com/A?a=1&b=2",          "http://ex.com/A?a=1&b=2"),
      ("https://Ex.com:443/x/",            "https://ex.com/x"),
      ("https://ex.com:8443/x",            "https://ex.com:8443/x"),
      ("http://ex.com:8080/",              "http://ex.com:8080/"),
      ("http://www.ex.com",                "http://ex.com/"),
      ("http://ex.com///",                 "http://ex.com/"))
    val out = cases.map(_._1).toDF("url")
      .select(graft.ext.Urls.canonicalize(org.apache.spark.sql.functions
        .col("url")).as("c"))
      .collect().map(_.getString(0))
    cases.zip(out).foreach { case ((in, want), got) =>
      assert(got == want, s"canonicalize($in) = $got, want $want")
    }
  }

  test("streaming curation: N micro-batches == the batch gateAndRedact " +
      "run row-for-row, and a replayed batchId leaves the area unchanged") {
    import org.apache.spark.sql.functions.{col, concat_ws}
    import spark.implicits._
    // purpose-built corpus: the testdata fixture never passes the
    // Gopher gate (synthetic vocab has no stopwords), so the gate
    // would be vacuous on it. Even ids pass (>=50 words, stopwords,
    // alpha-heavy) and carry PII to redact; odd ids are too short
    // and must be dropped — the gate is load-bearing both ways.
    val sentence = "the quick brown fox jumps over that lazy dog " +
      "and then runs back with great speed to the warm den again "
    val docs = (0L until 60L).map { i =>
      val text =
        if (i % 2 == 0) (sentence * 3) +
          s"mail bob$i@example.com code 1234567$i end"
        else s"tiny doc $i"
      (i, text)
    }.toDF("doc_id", "text")
    val landing = tmpDir("curlanding")
    val outDir = tmpDir("curout")
    val ckpt = tmpDir("curckpt")
    docs.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(landing)
    val src = spark.readStream
      .schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
    val q = graft.streaming.CurationStream.start(src, "text", "doc_id",
      outDir, ckpt)
    q.awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(concat_ws("|", col("doc_id"), col("clean_text"),
        col("n_emails"), col("n_ips"), col("n_phones")))
        .collect().map(_.getString(0)).toSet
    val streamed = spark.read.parquet(outDir)
    val batch = graft.ext.Curation.gateAndRedact(docs, "text", "doc_id")
    assert(rows(streamed) == rows(batch),
      "micro-batched curation must union to the batch run exactly")
    assert(rows(streamed).nonEmpty, "gate kept nothing — fixture broken")
    // foreachBatch replay: same rows under the SAME batchId (the
    // checkpoint pins offsets per batch) — the batchId-keyed
    // overwrite must converge, not append duplicates
    val batch0 = spark.read.parquet(s"$landing")
      .orderBy(col("doc_id")).limit(50)
    graft.streaming.CurationStream.writeFragment(batch0, 999L,
      "text", "doc_id", outDir)
    val once = rows(spark.read.parquet(outDir))
    graft.streaming.CurationStream.writeFragment(batch0, 999L,
      "text", "doc_id", outDir)
    assert(rows(spark.read.parquet(outDir)) == once,
      "replaying a batchId must leave the curated area unchanged")
  }

  test("quotaSelect barrier shape: the corpus is shuffled+sorted exactly " +
      "once (the REPARTITION_BY_COL barrier under the rank window); every " +
      "other (dom,_bkt) exchange ships only post-partial-agg sliver rows") {
    import spark.implicits._
    val docs = (1 to 400).map(i => (i.toLong, "d" + (i % 7))).toDF("id", "dom")
    val out = graft.ext.Sampling.mixtureSample(docs, "id", "dom",
      Map("d0" -> 1.0, "d1" -> 2.0, "d2" -> 1.0), nBuckets = 8)
    out.count()
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    // exactly one explicit barrier (the window's distribution), and
    // exactly one corpus sort (the rank window's) — a second would
    // mean the offsets branch re-sorted the data side
    val barriers = "REPARTITION_BY_COL".r.findAllMatchIn(plan).size
    assert(barriers == 1,
      s"expected ONE repartition barrier, got $barriers:\n$plan")
    val windows = "(?m)^\\s*(?:\\S+ )?Window ".r.findAllMatchIn(plan).size
    assert(windows == 1, s"expected ONE rank window, got $windows:\n$plan")
    // the offsets branch's own (dom,_bkt) exchange must sit ABOVE a
    // partial aggregate (ships domains x buckets rows, not the corpus)
    val offsExchanges = plan.linesIterator.zipWithIndex.filter {
      case (l, _) => l.contains("Exchange hashpartitioning") &&
        l.contains("_bkt#") && !l.contains("REPARTITION_BY_COL")
    }.toList
    val lines = plan.linesIterator.toArray
    offsExchanges.foreach { case (_, i) =>
      val below = lines.slice(i + 1, i + 3).mkString("\n")
      assert(below.contains("HashAggregate"),
        s"(dom,_bkt) exchange at line $i is not post-partial-agg:\n$plan")
    }
  }

  test("checkpointer API: ShuffleBarrier.cutShared repartitions by the " +
      "join keys only, cutState is identity; LocalCheckpoint truncates " +
      "lineage for both") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // barrier: keyed layout, not a full-row repartition — a downstream
    // join on k inherits the exchange's hash layout
    val shared = graft.ext.ShuffleBarrier.cutShared(df, Seq("k"))
    val reps = shared.queryExecution.logical.collect {
      case r: RepartitionByExpression => r }
    assert(reps.size == 1 && reps.head.partitionExpressions.size == 1,
      s"cutShared must add ONE single-key repartition: $reps")
    // state: identity — per-round state is single-consumer inside one
    // lazily-composed plan, an exchange would re-shuffle it for nothing
    assert(graft.ext.ShuffleBarrier.cutState(df) eq df,
      "ShuffleBarrier.cutState must be identity")
    // checkpointers keep eager truncation semantics on both paths
    val lcShared = graft.ext.LocalCheckpoint.cutShared(df, Seq("k"))
    val lcState = graft.ext.LocalCheckpoint.cutState(df)
    try {
      assert(lcShared.queryExecution.optimizedPlan.collectLeaves()
        .forall(l => !l.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "cutShared must truncate to checkpointed blocks")
      assert(lcShared.count() == 2 && lcState.count() == 2)
    } finally {
      graft.ext.LocalCheckpoint.release(lcShared)
      graft.ext.LocalCheckpoint.release(lcState)
    }
  }

  test("incremental minhash dedup: delta pairs ∪ yesterday's base pairs " +
      "== full-corpus pairs, and no base-base pair is recomputed") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val base = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10
      =!= 0)
    val delta = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 10
      === 0)
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairSet(graft.ext.Dedup.minHashLshPairsPortable(
      docs, "text", "doc_id", n = 3, numPerms = 16, rowsPerBand = 4,
      threshold = 0.5))
    val basePairs = pairSet(graft.ext.Dedup.minHashLshPairsPortable(
      base, "text", "doc_id", n = 3, numPerms = 16, rowsPerBand = 4,
      threshold = 0.5))
    val deltaPairs = pairSet(graft.ext.Dedup.minHashLshDeltaPairs(
      base, delta, "text", "doc_id", n = 3, numPerms = 16,
      rowsPerBand = 4, threshold = 0.5))
    assert(deltaPairs.union(basePairs) == full,
      "incremental ∪ previous-run pairs must equal the full-corpus run")
    assert(deltaPairs.forall { case (a, b) => a % 10 == 0 || b % 10 == 0 },
      "every delta pair must touch a delta doc — base-base pairs are " +
        "yesterday's work and must not be recomputed")
    assert(deltaPairs.nonEmpty, "fixture must exercise the delta join")
  }

  test("perceptron: round-1 weights are the plain Σ y·count aggregate, " +
      "a separable fixture converges (later rounds change nothing), and " +
      "the returned fit is storage-free") {
    import spark.implicits._
    // 'good' docs share token g, 'bad' docs token b — linearly
    // separable in one round; w2 == w1 because nothing is
    // misclassified after the first update
    val docs = Seq(
      (1L, "g g g", 1L), (2L, "g g", 1L),
      (3L, "b b b", -1L), (4L, "b b", -1L))
      .toDF("doc_id", "text", "y")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    def fit(rounds: Int): Map[Long, Long] =
      graft.ext.Classifier.perceptronTrain(docs, "text", "doc_id", "y",
        dim = 64, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = fit(1)
    // hand-computed: feature(g) gets +5 (3+2 counts), feature(b) -5
    assert(w1.values.toSet == Set(5L, -5L), s"got $w1")
    assert(fit(3) == w1, "a separable fixture must be stable after round 1")
    assert(spark.sparkContext.getPersistentRDDs.keySet
        .subsetOf(pinnedBefore),
      "perceptronTrain must stay storage-free (barriers, not cuts)")
    // and the score sweep gates exactly by the learned sign
    val scored = graft.ext.Classifier.perceptronScore(docs, "text",
      "doc_id", graft.ext.Classifier.perceptronTrain(docs, "text",
        "doc_id", "y", dim = 64, rounds = 3), dim = 64)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(scored == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
  }

  test("perceptron learns past round 1: a doc misclassified by w1 " +
      "moves the weights in round 2 exactly as the closed form says") {
    import spark.implicits._
    // y=+1 docs: "a a", "a c"; y=-1 doc: "c". w1: a -> +3, c -> 0.
    // Round 2 scores: doc1 +6 ok; doc2 +3 ok; doc3 0 -> y*p = 0 (a
    // zero-margin miss) -> g2: c -> -1 -> w2: a +3, c -1.
    val docs = Seq((1L, "a a", 1L), (2L, "a c", 1L), (3L, "c", -1L))
      .toDF("doc_id", "text", "y")
    def fit(rounds: Int): Map[Long, Long] =
      graft.ext.Classifier.perceptronTrain(docs, "text", "doc_id", "y",
        dim = 64, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = fit(1); val w2 = fit(2)
    assert(w1.values.toSet == Set(3L, 0L), s"w1: $w1")
    assert(w2.values.toSet == Set(3L, -1L), s"w2: $w2")
    assert(w1.keySet == w2.keySet,
      "feature buckets must be stable across rounds")
  }

  test("streaming dedup maintenance: micro-batched delta pairs union to " +
      "the full-corpus run, each batch lands its index fragment, and a " +
      "replayed batchId converges") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val landing = tmpDir("dedlanding")
    val indexDir = tmpDir("dedindex")
    val pairsDir = tmpDir("dedpairs")
    val ckpt = tmpDir("dedckpt")
    docs.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(landing)
    val src = spark.readStream
      .schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
    val q = graft.streaming.DedupMaintenance.start(src, "text", "doc_id",
      indexDir, pairsDir, ckpt)
    q.awaitTermination()
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = pairSet(spark.read.parquet(pairsDir))
    val full = pairSet(graft.ext.Dedup.minHashLshPairsPortable(
      docs, "text", "doc_id", n = 3, numPerms = 16, rowsPerBand = 4,
      threshold = 0.5))
    assert(streamed == full,
      "batched pair emission must union to the full-corpus dedup")
    assert(streamed.nonEmpty, "fixture has near-dup pairs — none emitted")
    // the accumulated index holds every doc exactly once
    val idx = graft.streaming.DedupMaintenance.readIndex(spark, indexDir)
    val indexed = idx.select(col("_id")).collect().map(_.getLong(0))
    val shingled = graft.ext.Dedup.minHashDocIndex(docs, "text", "doc_id")
      .select(col("_id")).collect().map(_.getLong(0))
    assert(indexed.sorted.toSeq == shingled.sorted.toSeq,
      "index fragments must cover each (shingled) doc exactly once")
    // replay, hermetic: land two batches in fresh dirs, snapshot, then
    // re-process batch 1 under its own id — the batchId-keyed
    // overwrite plus the left-anti self-exclusion must converge to
    // identical pairs and an identical index
    val idx2 = tmpDir("dedindex2"); val pairs2 = tmpDir("dedpairs2")
    val a = docs.filter(col("doc_id") < 300)
    val b = docs.filter(col("doc_id") >= 300)
    graft.streaming.DedupMaintenance.processBatch(a, 0L, "text",
      "doc_id", idx2, pairs2)
    graft.streaming.DedupMaintenance.processBatch(b, 1L, "text",
      "doc_id", idx2, pairs2)
    val oncePairs = pairSet(spark.read.parquet(pairs2))
    val onceIdx = graft.streaming.DedupMaintenance.readIndex(spark, idx2)
      .select(col("_id")).collect().map(_.getLong(0)).sorted.toSeq
    graft.streaming.DedupMaintenance.processBatch(b, 1L, "text",
      "doc_id", idx2, pairs2)
    assert(pairSet(spark.read.parquet(pairs2)) == oncePairs,
      "replaying a batchId must leave the pairs log unchanged")
    assert(graft.streaming.DedupMaintenance.readIndex(spark, idx2)
        .select(col("_id")).collect().map(_.getLong(0)).sorted.toSeq
      == onceIdx, "replaying a batchId must leave the index unchanged")
    assert(oncePairs == full,
      "two explicit batches must also union to the full-corpus run")
    // a zero-row JSON wave: the batch runs, and lands no fragment and
    // no pairs
    val jsonLanding = tmpDir("dedjson")
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(jsonLanding, "wave-000.json"))
    val idx3 = tmpDir("dedindex3"); val pairs3 = tmpDir("dedpairs3")
    val empty = graft.streaming.DedupMaintenance.start(
      spark.readStream.schema("doc_id LONG, text STRING").json(jsonLanding),
      "text", "doc_id", idx3, pairs3, tmpDir("dedckpt3"))
    empty.awaitTermination()
    assert(empty.recentProgress.exists(p =>
        p.batchId == 0L && p.numInputRows == 0L),
      "the empty wave must run as batch 0: " +
        empty.recentProgress.map(_.json).mkString("; "))
    assert(new java.io.File(idx3).list().isEmpty &&
        new java.io.File(pairs3).list().isEmpty,
      "an empty batch must land no fragment and emit no pairs")
    assert(graft.streaming.DedupMaintenance.readIndex(spark, idx3)
      .count() == 0L)
  }

  test("hash embeddings: identical texts embed identically, and the " +
      "fixture's near-dup pairs dominate random pairs on cosine — the " +
      "JL sanity a bootstrap embedding must clear") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = graft.ext.TextAnalysis.hashEmbed(docs, "text", "doc_id",
      dim = 16)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toArray).toMap
    // determinism / text-functional: re-run equals first run
    val emb2 = graft.ext.TextAnalysis.hashEmbed(docs, "text", "doc_id",
      dim = 16).collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toArray).toMap
    assert(emb.keySet == emb2.keySet
      && emb.keySet.forall(k => emb(k).sameElements(emb2(k))))
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      val na = math.sqrt(a.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(b.map(x => x * x).sum.toDouble)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val dupPairs = graft.ext.Dedup.minHashLshPairsPortable(docs, "text",
      "doc_id", n = 3, numPerms = 16, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dupPairs.nonEmpty)
    val dupCos = dupPairs.map { case (a, b) => cos(emb(a), emb(b)) }
    val ids = emb.keys.toArray.sorted
    val rndCos = (0 until 200).map { i =>
      val a = ids(i % ids.length)
      val b = ids((i * 37 + 11) % ids.length)
      if (a == b) 1.0 else cos(emb(a), emb(b))
    }.filter(_ < 1.0)
    val dupMean = dupCos.sum / dupCos.length
    val rndMean = rndCos.sum / rndCos.length
    assert(dupMean > rndMean + 0.3,
      f"near-dup mean cosine $dupMean%.3f must clearly exceed " +
        f"random-pair mean $rndMean%.3f")
  }

  test("capPerDomain keeps exactly min(cap, |domain|) rows per domain, " +
      "deterministically — re-running selects the identical subset") {
    import spark.implicits._
    val docs = ((1 to 100).map(i => (i.toLong, "big"))
      ++ (101 to 110).map(i => (i.toLong, "small")))
      .toDF("id", "dom")
    def run(): Map[String, Set[Long]] =
      graft.ext.Sampling.capPerDomain(docs, "id", "dom", cap = 25L,
        nBuckets = 8)
        .collect().map(r => (r.getString(1), r.getLong(0)))
        .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val once = run()
    assert(once("big").size == 25, "cap must bind on the big domain")
    assert(once("small").size == 10, "an under-cap domain keeps all rows")
    assert(run() == once, "the kept set must be deterministic")
  }

  test("kneser-ney bigram scores match the closed form on a hand-" +
      "computed fixture and conserve probability mass per context") {
    import spark.implicits._
    // corpus: "a b", "a b", "a c" → c(a,·)=3, c(a,b)=2, c(a,c)=1,
    // N1+(a·)=2, N1+(·b)=N1+(·c)=1, |types|=2, D=0.75:
    //   P(b|a) = (2−0.75)/3 + (0.75·2/3)·(1/2) = 0.41666 + 0.25
    //   P(c|a) = (1−0.75)/3 + 0.25            = 0.08333 + 0.25
    // micro floors: 416666+250000 = 666666; 83333+250000 = 333333
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.knBigramLmScores(docs, "text",
      "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 666666L), s"got ${out(1L)}")
    assert(out(2L) == (1L, 666666L))
    assert(out(3L) == (1L, 333333L), s"got ${out(3L)}")
    assert(out(4L) == (0L, 0L), "a 1-token doc has no bigrams")
    // mass conservation (the property add-one lacks): Σ_w P(w|a) ≈ 1
    assert(666666L + 333333L == 999999L) // = 1 − 2 floor ulps
  }

  test("pagerank under ShuffleBarrier: one execution materializes the " +
      "whole chain with the frozen inputs keyed for their joins — and " +
      "the warm-start resume replays the stored trajectory exactly") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val cold = graft.ext.GraphOps.pageRankFixedPoint(edges, "src", "dst",
      iters = 2, cp = graft.ext.ShuffleBarrier)
    val stored = graft.ext.GraphOps.pageRankFixedPoint(edges, "src", "dst",
      iters = 1, cp = graft.ext.ShuffleBarrier)
    val resumed = graft.ext.GraphOps.pageRankFixedPoint(edges, "src", "dst",
      iters = 1, cp = graft.ext.ShuffleBarrier, initRanks = Some(stored))
    val a = cold.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = resumed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, s"resume-from-round-1 must equal 2 cold rounds: $a vs $b")
  }

  test("q170 contrastive pairs: BOTH classes are populated — the " +
      "2-row bands admit verify-failures as hard negatives (a tighter " +
      "band shape silently empties the negative class)") {
    val df = Catalog.all.find(_.name == "q170_contrastive_pairs").get
      .fn(spark, sf("sf0.01"))
    val byLabel = df.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byLabel.getOrElse(1, 0L) > 0, "no positives — LSH net broken")
    assert(byLabel.getOrElse(0, 0L) > 0,
      "no hard negatives — every candidate verified as a dup; the " +
        "training set degenerates to positives-only")
    // label is a pure function of jaccard: no pair may contradict it
    val bad = df.filter(
      (col("label") === 1 && col("jaccard") < 0.5) ||
        (col("label") === 0 && col("jaccard") >= 0.5)).count()
    assert(bad == 0, s"$bad pair(s) whose label contradicts jaccard")
  }

  test("q171 vocab coverage: every global window runs over a " +
      "limit-bounded input (never the unbounded type table), and the " +
      "coverage curve is monotone in [0, 1]") {
    val df = Catalog.all.find(_.name == "q171_vocab_coverage").get
      .fn(spark, sf())
    val unbounded = globalWindows(df.queryExecution.optimizedPlan)
      .filterNot(_.child.collectFirst {
        case g: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => g
      }.isDefined)
    assert(unbounded.isEmpty,
      s"${unbounded.size} global window(s) over an unbounded input — " +
        "at web scale the full type table (10^8+ rows) would funnel " +
        "through one task; rank/cumsum must run on the TakeOrdered top-k")
    val rows = df.orderBy("vocab_size").collect()
    assert(rows.length == 13, s"13 sizes expected, got ${rows.length}")
    val cov = rows.map(_.getDouble(3))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b },
      s"coverage not monotone: ${cov.mkString(", ")}")
    assert(cov.forall(c => c >= 0.0 && c <= 1.0))
    assert(cov.last == cov.max)
  }

  test("q172 dsir: exactly the two inherent corpus passes (model + " +
      "score), and the only global window runs over the dim-bounded " +
      "bucket-stats aggregate, never the corpus") {
    val df = Catalog.all.find(_.name == "q172_dsir_scores").get
      .fn(spark, sf())
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    val scans = "Scan parquet".r.findAllMatchIn(plan).size
    assert(scans == 2,
      s"DSIR is two corpus passes by construction; got $scans scans — " +
        s"a third means the totals re-derived the corpus (the unreused " +
        s"feature-table shape this operator was rewritten to avoid):\n$plan")
    val unbounded = globalWindows(df.queryExecution.optimizedPlan)
      .filterNot(_.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.nonEmpty => a
      }.isDefined)
    assert(unbounded.isEmpty,
      s"${unbounded.size} global window(s) NOT over the keyed bucket " +
        "aggregate — the totals window must see ≤ dim rows, not docs")
  }

  test("dsir scores rank target-distribution text above raw-only text " +
      "on a hand-built corpus, with exact gram counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "alpha beta gamma", true),
      (3L, "zeta eta theta", false),
      (4L, "zeta eta iota alpha", false)).toDF("id", "text", "tgt")
    val out = graft.ext.Sampling.dsirScores(docs, "text", "id",
      col("tgt"), dim = 1024).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    // unigrams + bigrams: doc 1 has 4 + 3 = 7 grams
    assert(out(1L)._1 == 7, s"doc 1 gram count: ${out(1L)._1}")
    assert(out(3L)._1 == 5, s"doc 3 gram count: ${out(3L)._1}")
    // every target doc must out-rank every raw-only doc on the
    // normalized score: their grams dominate the target multinomial
    val (tgtMin, rawMax) =
      (Seq(1L, 2L).map(out(_)._2).min, Seq(3L, 4L).map(out(_)._2).max)
    assert(tgtMin > rawMax,
      s"target docs must outscore raw-only docs: min(target)=$tgtMin " +
        s"<= max(raw)=$rawMax")
    // raw-only docs sit strictly below the 1e6 micro-unit neutral
    // line: every one of their buckets has ct=0, so each ratio is
    // (Tr+dim)/((cr+1)(Tt+dim)) < 1. (No symmetric bound for targets:
    // a gram shared with a raw doc plus add-one shrinkage can pull a
    // target doc's mean under 1e6 at toy counts.)
    assert(rawMax < 1000000L)
  }

  test("hits matches the hand-derived fixed point on a 4-node graph, " +
      "and a lazily-returned ShuffleBarrier run pins no storage") {
    import spark.implicits._
    // 1→3, 2→3, 2→4: node 2 links BOTH authorities (best hub), node 3
    // is cited by both hubs (best authority). Hand-run: a2 = {3: 5e6,
    // 4: 3e6}, h2 = {1: 5e6, 2: 8e6} → micro-units of each max.
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.ext.GraphOps.hitsFixedPoint(edges, "src", "dst",
      iters = 2, cp = graft.ext.ShuffleBarrier).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(spark.sparkContext.getPersistentRDDs.keySet
        .subsetOf(pinnedBefore),
      "ShuffleBarrier hits must not pin blocks")
    assert(out(3L) == ((1000000L, 0L)), s"node 3: ${out(3L)}")
    assert(out(4L) == ((600000L, 0L)), s"node 4: ${out(4L)}")
    assert(out(1L) == ((0L, 625000L)), s"node 1: ${out(1L)}")
    assert(out(2L) == ((0L, 1000000L)), s"node 2: ${out(2L)}")
  }

  test("crawl-to-authority end to end, streaming: doc micro-batches → " +
      "link extraction → incremental rank snapshots, final state = " +
      "warm-start over all extracted edges") {
    import graft.ext.Urls
    import graft.streaming.GraphMaintenance
    import org.apache.spark.sql.functions.{col, concat, lit, pmod, xxhash64}
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("source"),
        concat(col("text"), lit(" https://site"),
          pmod(col("doc_id"), lit(5)).cast("string"),
          lit(".example.com/p.")).as("text"))
    val landing = tmpDir("crawl_landing")
    val edgesDir = tmpDir("crawl_edges")
    val ranksDir = tmpDir("crawl_ranks")
    val ckpt = tmpDir("crawl_ckpt")
    docs.repartitionByRange(3, col("doc_id"))
      .write.mode("overwrite").parquet(landing)
    def toEdges(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      val links = Urls.extractLinks(df, "text", "doc_id")
      links.join(df.select(col("doc_id"),
          concat(col("source"), lit(".example.com")).as("src_host")),
        Seq("doc_id"))
        .select(xxhash64(col("src_host")).as("src"),
          xxhash64(col("dst_host")).as("dst"))
    }
    val raw = spark.readStream
      .schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
    val q = GraphMaintenance.start(toEdges(raw), "src", "dst",
      edgesDir, ranksDir, ckpt)
    q.awaitTermination()
    // the accumulated edge fragments equal the batch extraction
    val streamedEdges = GraphMaintenance.readEdges(spark, edgesDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchEdges = toEdges(docs).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedEdges == batchEdges,
      "streamed link extraction must land the batch edge set")
    // and the newest snapshot is the warm-start pure function of them
    val fs = new org.apache.hadoop.fs.Path(ranksDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(new org.apache.hadoop.fs.Path(ranksDir))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).max
    val expect = graft.ext.GraphOps.pageRankFixedPoint(
      GraphMaintenance.readEdges(spark, edgesDir, Some(last)),
      "src", "dst", iters = 1, cp = graft.ext.ShuffleBarrier,
      initRanks = GraphMaintenance.readRanks(spark, ranksDir, Some(last)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = spark.read.parquet(s"$ranksDir/batch=$last")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect,
      "final snapshot must be the warm-start function of the fragments")
  }

  test("extractLinks pulls every URL, strips trailing punctuation, " +
      "canonicalizes, and composes into a GraphOps-ready edge list") {
    import graft.ext.Urls
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, xxhash64}
    val docs = Seq(
      (1L, "intro http://WWW.B.com:80/x/?z=1&a=2#f mid " +
        "https://c.com/y. tail no-url"),
      (2L, "bare text without links"),
      (3L, "dup https://c.com/y! and https://c.com/y?"))
      .toDF("doc_id", "text")
    val links = Urls.extractLinks(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(links.toSet == Set(
      (1L, "http://b.com/x?a=2&z=1", "b.com"),
      (1L, "https://c.com/y", "c.com"),
      (3L, "https://c.com/y", "c.com"),
      (3L, "https://c.com/y", "c.com")) ||
      links.sorted.toSeq == Seq(
        (1L, "http://b.com/x?a=2&z=1", "b.com"),
        (1L, "https://c.com/y", "c.com"),
        (3L, "https://c.com/y", "c.com"),
        (3L, "https://c.com/y", "c.com")),
      s"links: ${links.toSeq}")
    assert(links.count(_._1 == 3L) == 2,
      "one row per occurrence — both doc-3 links kept")
    // end-to-end: edges into PageRank run without error
    val edges = Urls.extractLinks(docs, "text", "doc_id")
      .join(docs.select(col("doc_id"), lit("self.com").as("src_host")),
        Seq("doc_id"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n"))
      .select(xxhash64(col("src_host")).as("src"),
        xxhash64(col("dst_host")).as("dst"))
    val ranks = graft.ext.GraphOps.pageRankFixedPoint(edges, "src",
      "dst", iters = 1, cp = graft.ext.ShuffleBarrier)
    assert(ranks.count() == 3, "self.com, b.com, c.com nodes ranked")
  }

  test("epochNanos/epochMicros adapt to all three event-time " +
      "encodings and agree with each other") {
    import graft.ops.Normalize
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val usWall = 1705312245123456L // 2024-01-15 09:50:45.123456 UTC
    // LONG nanos (the TIMESTAMP(NANOS) fixture shape)
    val asLong = Seq(usWall * 1000L).toDF("ts")
    assert(asLong.select(Normalize.epochMicros(asLong, "ts"))
      .head().getLong(0) == usWall)
    assert(asLong.select(Normalize.epochNanos(asLong, "ts"))
      .head().getLong(0) == usWall * 1000L)
    // TIMESTAMP (instant) under the UTC session
    val asTs = Seq("2024-01-15 09:50:45.123456").toDF("s")
      .select(to_timestamp(col("s")).as("ts"))
    assert(asTs.select(Normalize.epochMicros(asTs, "ts"))
      .head().getLong(0) == usWall)
    // TIMESTAMP_NTZ (the TIMESTAMP(MICROS, ntz) fixture shape):
    // wall-clock preserving under the pinned UTC session
    val asNtz = Seq("2024-01-15 09:50:45.123456").toDF("s")
      .select(col("s").cast("timestamp_ntz").as("ts"))
    assert(asNtz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(asNtz.select(Normalize.epochMicros(asNtz, "ts"))
      .head().getLong(0) == usWall)
    assert(asNtz.select(Normalize.epochNanos(asNtz, "ts"))
      .head().getLong(0) == usWall * 1000L)
    // unsupported types fail loudly, not silently
    val asStr = Seq("x").toDF("ts")
    intercept[IllegalArgumentException] {
      Normalize.epochMicros(asStr, "ts")
    }
  }

  test("dedupLinesWithin keeps first occurrences in order, preserves " +
      "empty lines, counts removals, and is map-only") {
    import graft.ext.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "nav\nbody one.\nnav\n\nnav \nbody one.\ntail"),
      (2L, "a\nb\nc"),
      (3L, ""),
      (4L, "\n\n"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupLinesWithin(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // doc 1: 'nav ' trims to the seen 'nav' → removed; empty kept
    assert(out(1L) == (("nav\nbody one.\n\ntail", 7, 3)),
      s"doc 1: ${out(1L)}")
    assert(out(2L) == (("a\nb\nc", 3, 0)), s"doc 2: ${out(2L)}")
    assert(out(3L) == (("", 1, 0)), s"doc 3: ${out(3L)}")
    assert(out(4L) == (("\n\n", 3, 0)),
      s"doc 4 (empties preserved): ${out(4L)}")
    val df = TextAnalysis.dedupLinesWithin(docs, "text", "doc_id")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"dedupLinesWithin must stay map-only:\n$plan")
  }

  test("webCurate: each stage is load-bearing — c4 page keep, script " +
      "gate, blocklist gate, and corpus line dedup all fire") {
    import graft.ext.Curation
    import spark.implicits._
    val shared = "Everyone shares this exact line today."
    val docs = Seq(
      (1L, s"Unique insight number one right here.\n$shared"),
      (2L, s"Unique insight number two right here.\n$shared"),
      (3L, s"Unique insight number three right here.\n$shared"),
      (4L, "Это доминирующее русское предложение существенно длиннее " +
        "всего остального текста на странице сейчас.\n" +
        "Short latin line here."),
      (5L, "This page mentions zzzspam and zzzscam terms.\n" +
        "Another good sentence right here."),
      (6L, "Only one sentence lives here."))
      .toDF("doc_id", "text")
    val out = Curation.webCurate(docs, "text", "doc_id",
      terms = Seq("zzzspam", "zzzscam"), minSentences = 2,
      maxHits = 2, minDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L),
      s"survivors: ${out.keySet} — script/blocklist/c4 gates must drop " +
        "4, 5, 6")
    assert(out(1L) == "Unique insight number one right here.",
      s"doc 1: '${out(1L)}' — the shared line must be deduped away")
    assert(!out.values.exists(_.contains(shared)),
      "no survivor may retain the corpus-frequent line")
  }

  test("payloadNearDupPairs pairs near-identical payloads, separates " +
      "distinct ones, and the token-array core is the exact engine " +
      "of the whitespace path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // identical payloads under distinct ids: Hamming 0, pairs
    // deterministically through banding + verify (SimHash margins
    // scale with √shingles, so a "one word changed" near-dup is NOT
    // deterministically ≤ maxDist at any fixed seed — the real
    // near-dup pair surface is pinned by the q182 brute-force oracle
    // instead, 17 pairs at sf0.01)
    val base = (1 to 150).map(i => s"word$i token$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base), // byte-identical payload
      (3L, (1 to 150).map(i => s"другое$i слово$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = graft.ext.Multimodal.payloadNearDupPairs(
      docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.map(r => (r._1, r._2)).toSet == Set((1L, 2L)),
      s"exactly the identical-payload pair must emerge: ${rows.toSeq}")
    assert(rows.head._3 == 0, "identical payloads must be Hamming 0")
    // the refactored core: whitespace path ≡ explicit token arrays
    val fixture = spark.read.parquet(s"${sf()}/documents.parquet")
    def ps(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaText = ps(graft.ext.Dedup.simHashPairsPortable(
      fixture, "text", "doc_id"))
    val viaTokens = ps(graft.ext.Dedup.simHashPairsFromTokenArrays(
      fixture.select(col("doc_id"),
        org.apache.spark.sql.functions.expr(
          "filter(split(trim(text), '\\\\s+'), t -> length(t) > 0)")
          .as("_tk")),
      "_tk", "doc_id"))
    assert(viaText == viaTokens,
      "token-array core must reproduce the whitespace path")
  }

  test("tokenBudgetSample matches a direct greedy reference, is " +
      "bucket-count invariant, overshoots by at most one doc per " +
      "domain, and keeps every window domain-partitioned") {
    import graft.ext.Sampling
    import spark.implicits._
    val rows = (1L to 200L).map { id =>
      (id, s"dom${id % 3}", 5L + (id * 7) % 23) }
    val df = rows.toDF("doc_id", "dom", "n_tok")
    val weights = Seq("dom0" -> 400000L, "dom1" -> 350000L,
      "dom2" -> 250000L)
    val budget = 1500L
    def run(buckets: Int): Set[Long] =
      Sampling.tokenBudgetSample(df, "doc_id", "dom", "n_tok",
        budget, weights, nBuckets = buckets)
        .collect().map(_.getLong(0)).toSet
    val got = run(64)
    // direct greedy reference: hash order, select while the exclusive
    // token prefix is under quota
    val want = rows.groupBy(_._2).flatMap { case (dom, rs) =>
      val q = budget * weights.toMap.apply(dom) / 1000000L
      var acc = 0L
      val sel = scala.collection.mutable.ArrayBuffer[Long]()
      rs.sortBy(r => (((r._1 % 2147483648L) * 2654435761L)
          % 2147483647L, r._1))
        .foreach { r => if (acc < q) sel += r._1; acc += r._3 }
      sel
    }.toSet
    assert(got == want, s"greedy pick diverges: got ${got.size} " +
      s"want ${want.size}")
    assert(run(1) == got && run(7) == got,
      "the pick set must not depend on the bucket count")
    // per-domain overshoot bound: selected mass - last pick < quota
    val sel = rows.filter(r => got(r._1))
    weights.foreach { case (dom, wm) =>
      val q = budget * wm / 1000000L
      val mass = sel.filter(_._2 == dom).map(_._3).sum
      val maxTok = sel.filter(_._2 == dom).map(_._3).max
      assert(mass - maxTok < q && mass > 0,
        s"$dom mass $mass outside (0, quota $q + one doc]")
    }
    // no global (partition-less) window anywhere in the plan
    val bad = Sampling.tokenBudgetSample(df, "doc_id", "dom", "n_tok",
      budget, weights).queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w }
    assert(bad.isEmpty, "tokenBudgetSample grew a global window")
  }

  test("the round-8 map-only ops are stream-safe: c4Clean, " +
      "blocklistHits, scriptProfile, and mixtureDenoise produce " +
      "identical rows through readStream as through batch") {
    val dir = sf()
    val batchDf = spark.read.parquet(s"$dir/documents.parquet")
    def viaStream(f: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, name: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      val q = f(spark.readStream.schema(batchDf.schema)
          .option("pathGlobFilter", p.getName)
          .parquet(p.getParent.toString))
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = spark.table(name).collect().map(_.mkString("|")).toSet
      spark.catalog.dropTempView(name)
      rows
    }
    import graft.ext.TextAnalysis
    def ops = Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)](
      ("par_c4", df => TextAnalysis.c4Clean(df, "text", "doc_id")),
      ("par_block", df => TextAnalysis.blocklistHits(
        df, "text", "doc_id", terms = Seq("hash", "spark"))),
      ("par_script", df => TextAnalysis.scriptProfile(
        df, "text", "doc_id")),
      ("par_mix", df => TextAnalysis.mixtureDenoise(
        df, "text", "doc_id")))
    ops.foreach { case (name, f) =>
      val streamed = viaStream(f, name)
      val batch = f(batchDf).collect().map(_.mkString("|")).toSet
      assert(streamed == batch, s"$name diverges between stream and batch")
    }
  }

  test("mixtureDenoise: hash-assigned modes, R-rows equal the plain " +
      "spanCorrupt rendering, S-rows split at n - max(1, n/4), empty " +
      "docs render empty in every mode, and the plan is map-only") {
    import graft.ext.TextAnalysis
    import spark.implicits._
    // ((id * 2654435761) % 2147483647) % 3 → 0-4: r, 5-8: s, 9-11: x
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (9L, "one two three four five six seven eight nine ten"),
      (6L, "a b c d e f g h"),
      (3L, ""),
      (5L, "   ")) // s mode, whitespace-only → 0 tokens
      .toDF("doc_id", "text")
    val out = TextAnalysis.mixtureDenoise(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    assert(out(0L)._1 == "r" && out(9L)._1 == "x" && out(6L)._1 == "s"
      && out(3L)._1 == "r" && out(5L)._1 == "s",
      s"mode assignment: ${out.view.mapValues(_._1).toMap}")
    // R-mode rows must be exactly the q149 kernel at the default rate
    val plainR = TextAnalysis.spanCorrupt(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2)))).toMap
    Seq(0L, 3L).foreach { id =>
      assert((out(id)._2, out(id)._3) == plainR(id),
        s"doc $id r-mode != spanCorrupt: ${out(id)}")
    }
    // the X-mode doc must differ from its R rendering (the rate is
    // the whole point) — 10 tokens at 40% vs 15% masks diverge
    assert((out(9L)._2, out(9L)._3) != plainR(9L),
      "x-mode must not equal the r-rate rendering on this fixture")
    // S split: n=8 → cut = 8 - max(1, 2) = 6
    assert(out(6L)._2 == "a b c d e f <extra_id_0>", s"s-in: ${out(6L)}")
    assert(out(6L)._3 == "<extra_id_0> g h", s"s-tgt: ${out(6L)}")
    // empty docs: empty pair in whatever mode
    assert(out(3L)._2 == "" && out(3L)._3 == "")
    assert(out(5L)._2 == "" && out(5L)._3 == "")
    val df = TextAnalysis.mixtureDenoise(docs, "text", "doc_id")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"mixtureDenoise must stay map-only:\n$plan")
  }

  test("scriptProfile counts each char class exactly, labels the " +
      "dominant script with the pinned tie order, and is map-only") {
    import graft.ext.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "abc XYZ 12 é"),       // é: not [A-Za-z], not counted
      (2L, "ab абв"),   // cyr 3 > latin 2
      (3L, "ab 一二三"),   // cjk 3 > latin 2, > cyr 0
      (4L, "ab аб"),         // tie cyr 2 = latin 2 → latin
      (5L, "аб 一二"), // tie cjk 2 = cyr 2 → cyrillic
      (6L, "x �� 9\t"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.scriptProfile(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getInt(5), r.getInt(6), r.getInt(7), r.getString(8)))).toMap
    assert(out(1L) == ((12, 6, 0, 0, 2, 3, 0, "latin")), s"1: ${out(1L)}")
    assert(out(2L) == ((6, 2, 3, 0, 0, 1, 0, "cyrillic")), s"2: ${out(2L)}")
    assert(out(3L) == ((6, 2, 0, 3, 0, 1, 0, "cjk")), s"3: ${out(3L)}")
    assert(out(4L)._8 == "latin", "latin wins the latin=cyrillic tie")
    assert(out(5L)._8 == "cyrillic", "cjk must STRICTLY beat both")
    assert(out(6L) == ((7, 1, 0, 0, 1, 3, 2, "latin")), s"6: ${out(6L)}")
    val df = TextAnalysis.scriptProfile(docs, "text", "doc_id")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"scriptProfile must stay map-only:\n$plan")
  }

  test("streaming graph maintenance: every landed rank snapshot is the " +
      "pure warm-start function of the fragments at-or-before it, and " +
      "a replayed batchId reproduces identical snapshots") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.GraphMaintenance
    val edges = spark.read.parquet(s"${sf()}/orders.parquet")
      .join(spark.read.parquet(s"${sf()}/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + org.apache.spark.sql.functions.lit(1000000L))
          .as("dst"))
    val landing = tmpDir("gmlanding")
    val edgesDir = tmpDir("gmedges")
    val ranksDir = tmpDir("gmranks")
    val ckpt = tmpDir("gmckpt")
    edges.repartitionByRange(3, col("src"))
      .write.mode("overwrite").parquet(landing)
    val src = spark.readStream
      .schema(spark.read.parquet(landing).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(landing)
    val q = GraphMaintenance.start(src, "src", "dst", edgesDir,
      ranksDir, ckpt)
    q.awaitTermination()
    def rankSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("node"), col("rank_micro"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fragments union to the full distinct edge set
    val landed = GraphMaintenance.readEdges(spark, edgesDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = edges.distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(landed == want, "edge fragments must union to the edge set")
    // every snapshot = warm-start(fragments <= id, snapshot(< id)) —
    // the pure-function/replay-stability contract, checked without
    // assuming which file the stream put in which batch
    val fs = new org.apache.hadoop.fs.Path(ranksDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = fs.listStatus(new org.apache.hadoop.fs.Path(ranksDir))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted
    assert(ids.length == 3, s"expected 3 rank snapshots, got ${ids.toSeq}")
    ids.foreach { id =>
      val expect = graft.ext.GraphOps.pageRankFixedPoint(
        GraphMaintenance.readEdges(spark, edgesDir, Some(id)),
        "src", "dst", iters = 1, cp = graft.ext.ShuffleBarrier,
        initRanks = GraphMaintenance.readRanks(spark, ranksDir, Some(id)))
      assert(rankSet(spark.read.parquet(s"$ranksDir/batch=$id"))
          == rankSet(expect), s"snapshot $id is not the pure function")
    }
    // replay the MIDDLE batch after later ones landed: identical bytes
    val mid = ids(1)
    val before = rankSet(spark.read.parquet(s"$ranksDir/batch=$mid"))
    val batchEdges = spark.read.parquet(s"$edgesDir/batch=$mid")
    GraphMaintenance.processBatch(batchEdges, mid, "src", "dst",
      edgesDir, ranksDir)
    assert(rankSet(spark.read.parquet(s"$ranksDir/batch=$mid")) == before,
      "replaying a batchId must reproduce its original snapshot")
    val last = ids.last
    val expectLast = graft.ext.GraphOps.pageRankFixedPoint(
      GraphMaintenance.readEdges(spark, edgesDir, Some(last)),
      "src", "dst", iters = 1, cp = graft.ext.ShuffleBarrier,
      initRanks = GraphMaintenance.readRanks(spark, ranksDir, Some(last)))
    assert(rankSet(spark.read.parquet(s"$ranksDir/batch=$last"))
        == rankSet(expectLast), "later snapshots must be untouched")
  }

  test("hits warm start: resuming one round from the stored scaled " +
      "state over an edge delta matches the hand-derived integers, " +
      "and an empty warm state degrades to the cold run") {
    import spark.implicits._
    val base = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val full = base.union(Seq((5L, 4L)).toDF("src", "dst"))
    val stored = graft.ext.GraphOps.hitsFixedPoint(base, "src", "dst",
      iters = 2, cp = graft.ext.ShuffleBarrier)
    val out = graft.ext.GraphOps.hitsFixedPoint(full, "src", "dst",
      iters = 1, cp = graft.ext.ShuffleBarrier, initHubs = Some(stored))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // stored hubs {1: 625000, 2: 1e6}; node 5 enters cold at 1e6.
    // One round over 1→3, 2→3, 2→4, 5→4:
    //   a = {3: 625000+1e6 = 1625000, 4: 1e6+1e6 = 2000000}
    //   h = {1: 1625000, 2: 1625000+2000000 = 3625000, 5: 2000000}
    // micro-rescale: a/2000000, h/3625000 (floored)
    assert(out(3L) == ((812500L, 0L)), s"node 3: ${out(3L)}")
    assert(out(4L) == ((1000000L, 0L)), s"node 4: ${out(4L)}")
    assert(out(1L) == ((0L, 448275L)), s"node 1: ${out(1L)}")
    assert(out(2L) == ((0L, 1000000L)), s"node 2: ${out(2L)}")
    assert(out(5L) == ((0L, 551724L)), s"node 5: ${out(5L)}")
    val empty = Seq.empty[(Long, Long, Long)]
      .toDF("node", "auth_micro", "hub_micro")
    val warmEmpty = graft.ext.GraphOps.hitsFixedPoint(full, "src", "dst",
      iters = 1, cp = graft.ext.ShuffleBarrier, initHubs = Some(empty))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cold = graft.ext.GraphOps.hitsFixedPoint(full, "src", "dst",
      iters = 1, cp = graft.ext.ShuffleBarrier)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(warmEmpty == cold, "empty warm state must equal the cold run")
  }

  test("c4Clean applies every line rule and every page rule on a " +
      "hand-built page, and is map-only (no exchange in the plan)") {
    import graft.ext.TextAnalysis
    import spark.implicits._
    val page =
      "A good first sentence right here.\n" + // kept
        "please enable javascript to continue.\n" + // dropped: javascript
        "home\n" + // dropped: short + no terminal punct
        "too short.\n" + // dropped: < 3 words
        "no terminal punctuation on this long line\n" + // dropped: punct
        "Ends with a quote after punct.\"\n" + // kept: ." counts
        "Another keeper. With two more! Sentences here?" // kept
    val docs = Seq(
      (1L, page),
      (2L, "Lorem Ipsum dolor sit amet and then some. More. " +
        "Text. Here. Now."), // page-dropped: lorem ipsum
      (3L, "Styled with css { color: red } badly. Yes. No. Ok. Go."),
      (4L, "Contains the banned token xylophone here. A. B. C. D."),
      (5L, "Only two sentences total right here. Second one now."),
      (6L, "One. Two. Three. Four. Five clean sentences right here."))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(docs, "text", "doc_id",
      minLineWords = 3, minSentences = 5,
      badWords = Seq("xylophone")).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5)))).toMap
    // doc 1: 3 of 7 lines kept; 5 terminal marks in the cleaned text
    // (line 1 ".", line 6 "..", line 7 ".!?" → 1+1+3 = 5)
    assert(out(1L) == ((3, 4, 5, true)), s"doc 1: ${out(1L)}")
    assert(!out(2L)._4, "lorem ipsum page must be dropped")
    assert(!out(3L)._4, "curly-brace page must be dropped")
    assert(!out(4L)._4, "badword page must be dropped")
    assert(!out(5L)._4, "2-sentence page fails minSentences=5")
    assert(out(6L)._4, "clean 5-sentence page must survive")
    // badWords splice into a regex — reject anything non-word
    intercept[IllegalArgumentException] {
      TextAnalysis.c4Clean(docs, "text", "doc_id",
        badWords = Seq("a|b"))
    }
    // map-only: no Exchange anywhere in the executed plan
    val df = TextAnalysis.c4Clean(docs, "text", "doc_id")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"c4Clean must stay map-only:\n$plan")
  }

  test("blocklistHits counts word-boundary hits, distinct terms, and " +
      "the keep gate; rejects regex-syntax terms; map-only") {
    import graft.ext.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, "Spark and spark and SPARK again"), // 3 hits, 1 term
      (2L, "hash join beats hash scan on a window"), // 3 hits, 2 terms
      (3L, "sparkle hashes windowing"), // substrings only: 0 hits
      (4L, "clean of terms entirely"),
      (5L, "spark hash window spark hash window")) // 6 hits, 3 terms
      .toDF("doc_id", "text")
    val out = TextAnalysis.blocklistHits(docs, "text", "doc_id",
      terms = Seq("hash", "spark", "window"), maxHits = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((3, 1, true)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((3, 2, true)), s"doc 2: ${out(2L)}")
    assert(out(3L) == ((0, 0, true)), "substrings must not match \\b terms")
    assert(out(4L) == ((0, 0, true)), s"doc 4: ${out(4L)}")
    assert(out(5L) == ((6, 3, false)), "6 hits >= maxHits=4 must not keep")
    intercept[IllegalArgumentException] {
      TextAnalysis.blocklistHits(docs, "text", "doc_id",
        terms = Seq("a|b"))
    }
    val df = TextAnalysis.blocklistHits(docs, "text", "doc_id",
      terms = Seq("hash"))
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"blocklistHits must stay map-only:\n$plan")
  }

  test("paragraphDedupGlobal removes df>=minDocFreq paragraphs whole " +
      "(internal newlines intact), keeps rarer ones, preserves order, " +
      "and keeps fully-boilerplate docs with empty clean_text") {
    import graft.ext.Dedup
    import spark.implicits._
    val shared = "Subscribe now.\nNo spam."   // df=3 → boilerplate
    val rare = "About the author.\nBio here." // df=2 → kept
    val docs = Seq(
      (1L, s"Unique one.\n\n$shared\n\n$rare"),
      (2L, s"$shared\n\nUnique two.\n\n$rare"),
      (3L, s"$shared\n\n\n\nUnique three."), // 2+ blank lines, one split
      (4L, shared)) // fully boilerplate → survives, empty clean_text
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedupGlobal(docs, "text", "doc_id",
      minDocFreq = 3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == s"Unique one.\n\n$rare", s"doc 1: '${out(1L)}'")
    assert(out(2L) == s"Unique two.\n\n$rare", s"doc 2: '${out(2L)}'")
    assert(out(3L) == "Unique three.", s"doc 3: '${out(3L)}'")
    assert(out(4L) == "", "fully-boilerplate doc must survive empty")
    assert(out.size == 4)
    // the shared block is keyed as a WHOLE paragraph: its first line
    // alone ("Subscribe now.") inside a different paragraph must NOT
    // be removed
    val docs2 = docs.union(Seq(
      (5L, "Subscribe now.\nDifferent second line.")).toDF("doc_id", "text"))
    val out2 = Dedup.paragraphDedupGlobal(docs2, "text", "doc_id",
      minDocFreq = 3).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2(5L) == "Subscribe now.\nDifferent second line.",
      s"doc 5: '${out2(5L)}'")
  }

  /** Reference winnowing (Schleimer et al.): brute-force over code
    * points, rightmost-min per window — an independent path the HOF
    * implementation must reproduce exactly. */
  private def refWinnow(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val s = text.toLowerCase.replaceAll("\\s+", "")
    val cps = s.codePoints.toArray
    val m = cps.length - k + 1
    if (m < 1) return Set.empty
    val hs = Array.tabulate(m) { i =>
      var acc = 0L
      (i until i + k).foreach(j => acc = (acc * 31 + cps(j)) % 1000000007L)
      acc
    }
    (math.min(w, m) to m).map { j => // 1-based window end
      var bh = Long.MaxValue; var bp = 0
      (math.max(1, j - w + 1) to j).foreach { i =>
        if (hs(i - 1) <= bh) { bh = hs(i - 1); bp = i }
      }
      (bh, bp.toLong)
    }.toSet
  }

  test("winnowFingerprints equals the reference algorithm on varied " +
      "inputs, honors the w+k-1 match guarantee, and is map-only") {
    import graft.ext.TextAnalysis
    import spark.implicits._
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "aaaaaaaaaaaa", // all-equal hashes: rightmost-tie path
      3L -> "abcd",  // len 4 < k=5 → no fingerprints
      4L -> "abcde", // exactly one gram, short-window path
      5L -> "abcdefg", // m=3 < w=4 → single window over all grams
      6L -> "Spaces   and\tCASE   are canonicalized away",
      7L -> "spacesandcasearecanonicalizedaway") // same as 6 stripped
    val docs = texts.toDF("doc_id", "text")
    val got = TextAnalysis.winnowFingerprints(docs, "text", "doc_id",
      k = 5, w = 4).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    texts.foreach { case (id, tx) =>
      val want = refWinnow(tx, 5, 4)
      assert(got.getOrElse(id, Set.empty) == want,
        s"doc $id: got ${got.getOrElse(id, Set.empty)} want $want")
    }
    // canonicalization: 6 and 7 are byte-identical after strip+lower
    assert(got(6L) == got(7L))
    // guarantee: docs sharing a substring of length >= w+k-1 = 8
    // (after stripping) share at least one fingerprint VALUE
    val a = "xqzjvwkpt common-shared-run of text here xyzzy"
    val b = "completely different prefix common-shared-run suffix!"
    val g2 = TextAnalysis.winnowFingerprints(
      Seq(10L -> a, 11L -> b).toDF("doc_id", "text"),
      "text", "doc_id", k = 5, w = 4).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    assert((g2(10L) & g2(11L)).nonEmpty,
      "shared substring >= w+k-1 must share a fingerprint")
    val df = TextAnalysis.winnowFingerprints(docs, "text", "doc_id")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"winnowFingerprints must stay map-only:\n$plan")
  }
}
