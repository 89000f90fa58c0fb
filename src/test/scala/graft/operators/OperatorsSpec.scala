package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Doc 2 appends one token to doc 1: shingle-Jaccard 7/8 = 0.875, high
  // enough for an r=8 LSH band to collide. Doc 3 shares nothing.
  private val base = "the quick brown fox jumps over the lazy dog"
  private val docs = Seq(
    (1L, base),
    (2L, base + " tonight"), // near-dup of 1
    (3L, "completely different content about spark engines and scale"),
    (4L, base)               // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val r = Dedup.exact(docs, "doc_id", "text")
    assert(r.count() === 3)
    val dup = r.filter(col("n_copies") === 2).select("keep_id")
    assert(rows(dup).flatten === Seq(1L))
  }

  test("minhash LSH finds the planted near-dup pair and the exact pair") {
    val pairs = Dedup.nearDupMinhash(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical → always a candidate
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram Jaccard reports exact duplicates at 1.0 and near-dups at 7/8") {
    val r = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
    val exact = r.filter(col("id_a") === 1 && col("id_b") === 4)
    assert(rows(exact.select("jaccard")).flatten === Seq(1.0))
    val near = r.filter(col("id_a") === 1 && col("id_b") === 2)
    assert(rows(near.select("jaccard")).flatten === Seq(0.875))
  }

  test("simhash near-dups have small hamming distance, distinct docs large") {
    val sig = Dedup.simhash32(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(sig, maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("simhash64 banding is pigeonhole-COMPLETE for Hamming ≤ 3") {
    // real corpus signatures, brute-force ground truth computed driver-
    // side (500 sigs → 125k pairs, trivial): every Hamming ≤ 3 pair must
    // share one of the 4 16-bit bands and therefore appear in the
    // operator's output, and nothing above the bound may pass the verify
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sig = Dedup.simhash64(corpus, "doc_id", "text")
    val got = Dedup.simhashPairs(sig, maxHamming = 3, bits = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sigs = sig.as[(Long, Long)].collect()
    val want = (for {
      i <- sigs.indices.iterator; j <- (i + 1) until sigs.length
      if java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2) <= 3
    } yield {
      val (a, b) = (sigs(i)._1, sigs(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    assert(got === want)
  }

  test("misconfigured band count fails loudly") {
    intercept[IllegalArgumentException] {
      Dedup.nearDupMinhash(docs, "doc_id", "text", k = 16, bands = 5)
    }
  }

  test("incremental near-dup equals the full run restricted to delta-involved pairs") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val full = Dedup.nearDupMinhash(corpus, "doc_id", "text",
        k = 32, bands = 4, threshold = 0.8)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val isDelta = (id: Long) => id % 3 == 0
    val (bandsDf, shDf) = Dedup.nearDupIndex(
      corpus.filter(!(col("doc_id") % 3 === 0)), "doc_id", "text", 32, 4, 3)
    val incr = Dedup.nearDupIncrement(bandsDf, shDf,
        corpus.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        32, 4, 3, threshold = 0.8)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val expected = full.filter(p => isDelta(p._1) || isDelta(p._2))
    assert(incr === expected)
    assert(incr.nonEmpty, "fixture should produce delta-involved pairs")
    assert(incr.forall(p => isDelta(p._1) || isDelta(p._2)),
      "no base-base pair may surface")
  }

  test("a re-delivered exact duplicate in the delta pairs with its base twin at 1.0") {
    val baseDocs = Seq((10L, base), (11L, "unrelated text entirely about graphs"))
      .toDF("doc_id", "text")
    val delta = Seq((20L, base)).toDF("doc_id", "text")
    val (bandsDf, shDf) = Dedup.nearDupIndex(baseDocs, "doc_id", "text", 32, 4, 3)
    val got = Dedup.nearDupIncrement(bandsDf, shDf, delta, "doc_id", "text",
        32, 4, 3, threshold = 0.8)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((10L, 20L, 1.0)))
  }

  test("hot-shingle df cap bounds candidates on a common-prefix corpus") {
    // 40 docs sharing a 12-token boilerplate prefix with unique 2-token
    // tails: every boilerplate shingle has df=40, so the uncapped
    // inverted join compares all ~40²/2 pairs and reports them all as
    // near-dups; capping df at 10 drops the boilerplate (it carries no
    // signal) and the candidate set collapses to nothing.
    val boiler = "terms of service apply to all content on this web site"
    val corpus = (1 to 40)
      .map(i => (i.toLong, s"$boiler unique$i tail$i")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = 0.5)
    assert(uncapped.count() === 40L * 39 / 2)
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      threshold = 0.5, maxDf = 10)
    assert(capped.count() === 0)
    // The capped shingle frame itself is bounded: only tail shingles left.
    val sh = Dedup.capDocFreq(
      Dedup.shingleHashes(corpus, "doc_id", "text"), 10)
    assert(sh.groupBy("h").count().agg(max("count")).head.getLong(0) <= 10)
  }

  test("boilerplate lines drop, order survives, emptied docs stay") {
    // banner appears in 3 docs (> maxDf 2), unique lines in 1 each;
    // doc 3 is banner-only and must come back empty, not vanish.
    val banner = "ACCEPT ALL COOKIES"
    val corpus = Seq(
      (1L, s"$banner\nfirst alpha\n$banner\nfirst omega"),
      (2L, s"second alpha\n$banner\nsecond omega"),
      (3L, banner)
    ).toDF("doc_id", "text")
    val r = Dedup.dropBoilerplateLines(corpus, "doc_id", "text", maxDf = 2)
      .orderBy("id")
    assert(rows(r) === Seq(
      Seq(1L, 2L, "first alpha\nfirst omega"),
      Seq(2L, 2L, "second alpha\nsecond omega"),
      Seq(3L, 0L, "")))
  }

  test("substringDedup excises duplicated windows, keeps unique spans") {
    // "the quick brown" (w=3) occurs in docs 1 and 2 → its 3 token
    // positions drop from both; every other window is unique.
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "see the quick brown dog"),
      (3L, "entirely unrelated words here")
    ).toDF("doc_id", "text")
    val r = Dedup.substringDedup(corpus, "doc_id", "text", w = 3)
      .orderBy("id")
    assert(rows(r) === Seq(
      Seq(1L, 3L, "fox jumps"),
      Seq(2L, 3L, "see dog"),
      Seq(3L, 0L, "entirely unrelated words here")))
  }

  test("substringDedup drops within-doc repetition too") {
    // "ha ha" repeats at positions 0 and 2 (overlapping occurrences at
    // 0,1,2 of window 'ha ha'): coverage is the union → whole doc drops.
    val corpus = Seq(
      (1L, "ha ha ha ha"),
      (2L, "one two three four")
    ).toDF("doc_id", "text")
    val r = Dedup.substringDedup(corpus, "doc_id", "text", w = 2)
      .orderBy("id")
    assert(rows(r) === Seq(
      Seq(1L, 4L, ""),
      Seq(2L, 0L, "one two three four")))
  }

  test("substringDedup: docs shorter than the window pass through") {
    val corpus = Seq(
      (1L, "tiny"),
      (2L, "also small"),
      (3L, "tiny")   // exact dup but below window size: untouched
    ).toDF("doc_id", "text")
    val r = Dedup.substringDedup(corpus, "doc_id", "text", w = 3)
      .orderBy("id")
    assert(rows(r) === Seq(
      Seq(1L, 0L, "tiny"),
      Seq(2L, 0L, "also small"),
      Seq(3L, 0L, "tiny")))
  }

  test("prefix filtering is lossless: matches brute-force Jaccard exactly") {
    // Random doc mix: exact dups, one-token edits, shuffled halves,
    // unrelated docs — the shapes where a wrong prefix bound would drop a
    // pair. Brute force computes Jaccard over ALL pairs from the same
    // shingle sets; the operator must return exactly the ≥ t subset.
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val texts = (0 until 30).map { i =>
      val base = Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
      i % 3 match {
        case 0 => base.mkString(" ")
        case 1 => (base :+ vocab(rnd.nextInt(vocab.size))).mkString(" ")
        case _ => rnd.shuffle(base).mkString(" ")
      }
    }
    val corpus = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.8)) {
      val got = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", threshold = t)
        .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      val shSets = Dedup.shingleHashes(corpus, "doc_id", "text")
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (id, hs) => id -> hs.map(_._2).toSet }
      val want = (for {
        a <- shSets.keys; b <- shSets.keys if a < b
        inter = (shSets(a) & shSets(b)).size
        j = BigDecimal(inter.toDouble / (shSets(a).size + shSets(b).size - inter))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= t
      } yield (a, b, j)).toSet
      assert(got === want, s"threshold $t")
    }
  }
}

class LineageSpec extends SparkSpec {
  import spark.implicits._

  //      r1
  //     /  \
  //    a    b
  //   / \    \
  //  c   d    e        r2 -> f
  private val edges = Seq(
    ("a", "r1"), ("b", "r1"), ("c", "a"), ("d", "a"), ("e", "b"), ("f", "r2")
  ).toDF("child", "parent")

  test("ancestors walks to fixpoint with depths") {
    val anc = Lineage.ancestors(edges)
    val ofC = anc.filter(col("node") === "c").select("anc", "depth")
      .as[(String, Long)].collect().toSet
    assert(ofC === Set(("a", 1L), ("r1", 2L)))
    assert(anc.count() === 6 + 3) // 6 direct edges + 3 grandparent pairs
  }

  test("roots finds the parentless ancestor for every node") {
    val r = Lineage.roots(edges).as[(String, String, Long)].collect().toSet
    assert(r === Set(("a", "r1", 1L), ("b", "r1", 1L), ("c", "r1", 2L),
      ("d", "r1", 2L), ("e", "r1", 2L), ("f", "r2", 1L)))
  }

  test("descendants walks down from start nodes (regression: non-empty)") {
    val start = Seq("a").toDF("node")
    val d = Lineage.descendants(edges, start)
      .select("descendant").as[String].collect().toSet
    assert(d === Set("c", "d"))
  }

  test("a cycle fails loudly at the depth cap instead of silently truncating") {
    // on a cycle the walk's per-pair path counts inflate every lap, so a
    // depth-capped answer is wrong, not approximate — refuse it (r7)
    val cyc = Seq(("x", "y"), ("y", "x")).toDF("child", "parent")
    val ex = intercept[IllegalStateException] { Lineage.ancestors(cyc).count() }
    assert(ex.getMessage.contains("cycle"))
  }

  test("a refused walk releases its cached edge table") {
    spark.catalog.clearCache()
    val cyc = Seq(("x", "y"), ("y", "x")).toDF("child", "parent")
    intercept[IllegalStateException] { Lineage.ancestors(cyc) }
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("every job of a walk is one of its pins") {
    // the per-level row count rides the level's pin: a depth-2 walk runs
    // no job outside the pins' actions. A pin's broadcast and adaptive
    // shuffle stages run as jobs of their own from pool threads, so a job
    // is attributed to its SQL action, and every action must be a pin
    // (a job whose call site is Checkpoints.scala)
    val sc = spark.sparkContext
    val tag = s"lineage-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    @volatile var drained = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.test.tag")).foreach {
          case `tag` => jobs.add((e.properties.getProperty("spark.sql.execution.id"),
            e.stageInfos.maxBy(_.stageId).name))
          case t if t == tag + "-end" => drained = true
          case _ =>
        }
    }
    val chain = Seq(("c", "b"), ("b", "a")).toDF("child", "parent")
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.tag", tag)
      Lineage.ancestors(chain)
      // a marker job: events arrive in order, so once its start is seen
      // every job of the walk has been delivered
      sc.setLocalProperty("graft.test.tag", tag + "-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
    assert(drained)
    val all = jobs.toArray.toSeq.map(_.asInstanceOf[(String, String)])
    val pins = all.collect { case (x, site) if site.contains("Checkpoints.scala") => x }.toSet
    assert(pins.size == 3, all) // level 1, level 2, and the empty level 3
    assert(all.forall { case (x, _) => x != null && pins(x) }, all)
  }

  test("a chain of exactly MaxDepth completes; one deeper fails loudly") {
    // depth == MaxDepth with nothing left to expand is a LEGAL input —
    // only an expandable frontier there may throw
    def chain(n: Int) =
      (0 until n).map(i => (s"n$i", s"n${i + 1}")).toDF("child", "parent")
    val exact = Lineage.ancestors(chain(Lineage.MaxDepth))
    assert(exact.count() > 0) // completes, no throw
    intercept[IllegalStateException] {
      Lineage.ancestors(chain(Lineage.MaxDepth + 2)).count()
    }
  }
}

class SequencingSpec extends SparkSpec {
  import spark.implicits._

  test("next ids continue after the group max, 1-based for new groups") {
    val existing = Seq(("p1", 3L), ("p1", 7L), ("p2", 1L)).toDF("group", "num")
    val fresh = Seq(("p1", "x"), ("p1", "y"), ("p3", "z")).toDF("proj", "item")
    val r = Sequencing.nextIds(existing, fresh, "proj", col("item"))
      .select("proj", "item", "new_id").as[(String, String, Long)].collect().toSet
    assert(r === Set(("p1", "x", 8L), ("p1", "y", 9L), ("p3", "z", 1L)))
  }

  test("caller group column named 'group' does not collide (regression)") {
    val existing = Seq(("p1", 5L)).toDF("group", "num")
    val fresh = Seq(("p1", "x")).toDF("group", "item")
    val r = Sequencing.nextIds(existing, fresh, "group", col("item"))
    assert(rows(r.select("new_id")).flatten === Seq(6L))
  }
}

class ValidateSpec extends SparkSpec {
  import spark.implicits._

  test("unpaired groups are the odd-count ones") {
    val df = Seq("a", "a", "b", "b", "b", "c").toDF("k")
    val r = Validate.unpairedGroups(df, Seq("k")).select("k")
    assert(rows(r).flatten.toSet === Set("b", "c"))
  }

  test("duplicated keys are the >1 ones") {
    val df = Seq("a", "a", "b").toDF("k")
    assert(rows(Validate.duplicatedKeys(df, Seq("k")).select("k")).flatten === Seq("a"))
  }

  test("missingRefs returns left rows without a match") {
    val l = Seq(1, 2, 3).toDF("id")
    val r = Seq(2, 3).toDF("rid")
    val miss = Validate.missingRefs(l, r, col("id") === col("rid"))
    assert(rows(miss).flatten === Seq(1))
  }

  test("missingColumns is case-insensitive both ways (regression)") {
    val df = Seq((1, "x")).toDF("ID", "Name")
    assert(Validate.missingColumns(df, Seq("id", "NAME")) === Seq.empty)
    assert(Validate.missingColumns(df, Seq("Other")) === Seq("Other"))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine similarity of known vectors") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 2.0), Seq(1.0, 2.0)))
      .toDF("a", "b")
      .select(round(Similarity.cosine(col("a"), col("b")), 6).as("c"))
    assert(rows(df).flatten === Seq(0.0, 1.0))
  }

  test("brute-force knn returns k rows ranked by similarity") {
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.0, 1.0)), (4L, Seq(-1.0, 0.0))
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1.0, 0.0))).toDF("qv")
    val r = Similarity.bruteForceKnn(emb, "vec_id", "embedding", q, 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(r === Seq(1L, 2L))
  }

  test("mmrDiversified trades relevance for diversity, deterministically") {
    // query along +x; candidates: two near-identical high-rel vectors
    // (1, 2), a moderately relevant diverse one (3), an irrelevant one
    // (4). Pure relevance top-3 = (1, 2, 3); MMR must demote the
    // near-dup 2 below the diverse 3.
    val cands = Seq(
      (7L, 1L, 0.9999, Seq(1.0f, 0.01f, 0.0f)),
      (7L, 2L, 0.9998, Seq(1.0f, 0.012f, 0.0f)),
      (7L, 3L, 0.9, Seq(0.7f, 0.7f, 0.0f)),
      (7L, 4L, 0.1, Seq(0.0f, 0.1f, 1.0f))
    ).toDF("qid", "cid", "rel", "vec")
    val r = Similarity.mmrDiversified(cands, 3, 1, 2)
      .orderBy("rank").as[(Long, Int, Long, Long)].collect()
    assert(r.map(_._3).toSeq === Seq(1L, 3L, 4L),
      s"expected diversity-aware order, got ${r.toSeq}")
    // deterministic across runs
    val again = Similarity.mmrDiversified(cands, 3, 1, 2)
      .orderBy("rank").as[(Long, Int, Long, Long)].collect()
    assert(r.toSeq === again.toSeq)
  }

  test("mmrDiversified: k caps at the candidate count; groups are independent") {
    val cands = Seq(
      (1L, 10L, 0.9, Seq(1.0f, 0.0f)),
      (1L, 11L, 0.8, Seq(0.0f, 1.0f)),
      (2L, 20L, 0.5, Seq(1.0f, 1.0f))
    ).toDF("qid", "cid", "rel", "vec")
    val r = Similarity.mmrDiversified(cands, 5, 3, 4)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(r.map(x => (x._1, x._3)) === Set((1L, 10L), (1L, 11L), (2L, 20L)))
    // first pick score is lamNum * (rel x 10^4) over denominator 4*10^4
    assert(r.find(x => x._1 == 2L).get._4 === 15000L)
  }

  test("lsh knn finds the query's own bucket neighbours") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.99f, 0.1f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.1f))
    ).toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1.0f, 0.0f, 0.0f))).toDF("qv")
    val r = Similarity.lshKnn(emb, "vec_id", "embedding", q, 3, nPlanes = 4, dim = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(r.contains(1L) && r.contains(2L) && !r.contains(3L))
  }
}

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("upsert: incoming wins, unmatched existing survives") {
    val existing = Seq((1, "old"), (2, "keep")).toDF("id", "v")
    val incoming = Seq((1, "new"), (3, "add")).toDF("id", "v")
    val r = Catalog.upsert(existing, incoming, Seq("id"))
      .as[(Int, String)].collect().toSet
    assert(r === Set((1, "new"), (2, "keep"), (3, "add")))
  }

  test("upsert: duplicate incoming keys fail loudly without a tieBreak") {
    val existing = Seq((1, "old")).toDF("id", "v")
    val incoming = Seq((1, "a"), (1, "b")).toDF("id", "v")
    val ex = intercept[Exception] {
      Catalog.upsert(existing, incoming, Seq("id")).collect()
    }
    // raise_error surfaces wrapped in Spark's execution exception chain
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("duplicate incoming rows")))
  }

  test("upsert: tieBreak makes the same-key winner deterministic") {
    val existing = Seq((1, "old", 0L)).toDF("id", "v", "ts")
    val incoming = Seq((1, "early", 10L), (1, "late", 20L), (2, "x", 5L))
      .toDF("id", "v", "ts")
    // run repeatedly: the winner must be stable, not partition-luck
    (1 to 3).foreach { _ =>
      val r = Catalog.upsert(existing, incoming, Seq("id"), tieBreak = Seq("ts"))
        .as[(Int, String, Long)].collect().toSet
      assert(r === Set((1, "late", 20L), (2, "x", 5L)))
    }
  }

  test("appendNew is idempotent on re-submission") {
    val existing = Seq((1, "a")).toDF("id", "v")
    val incoming = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val once = Catalog.appendNew(existing, incoming, Seq("id"))
    val twice = Catalog.appendNew(once, incoming, Seq("id"))
    assert(twice.count() === 2)
  }

  test("scd2Apply: change closes and reopens, unchanged/new/untouched behave") {
    import org.apache.spark.sql.functions.col
    def hist(rows: (Long, String, Long, Option[Long])*) =
      rows.toDF("k", "v", "valid_from", "valid_to")
    val h = hist(
      (1L, "old", 0L, Some(50L)), (1L, "cur", 50L, None), // has history
      (2L, "same", 0L, None), // incoming repeats it
      (3L, "keep", 0L, None)) // untouched by the batch
    val inc = Seq((1L, "newer"), (2L, "same"), (4L, "born")).toDF("k", "v")
    val got = Catalog.scd2Apply(h, inc, Seq("k"), batchTs = 100L)
      .orderBy("k", "valid_from")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(got.toSeq === Seq(
      (1L, "old", 0L, Some(50L)), // closed history untouched
      (1L, "cur", 50L, Some(100L)), // change closes the open row...
      (1L, "newer", 100L, None), // ...and opens the new value
      (2L, "same", 0L, None), // unchanged keeps its open row
      (3L, "keep", 0L, None), // absent from batch: untouched
      (4L, "born", 100L, None))) // new key opens its first row
    // idempotence: re-applying the same batch changes nothing
    val again = Catalog.scd2Apply(
      Catalog.scd2Apply(h, inc, Seq("k"), 100L), inc, Seq("k"), 150L)
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(again.toSeq === got.toSeq, "same batch twice must be a no-op")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("payload + fake decode produce the documented metadata shape") {
    val df = Multimodal.withPayload(Seq((1L, "hello")).toDF("id", "text"), "text")
      .withColumn("meta", Multimodal.fakeDecode(col("payload"), "image/png"))
      .select("meta.media_type", "meta.size_bytes", "meta.width", "meta.height")
    val Seq(Seq(mt, sz, w, h)) = rows(df)
    assert(mt === "image/png" && sz === 5L)
    assert(w.asInstanceOf[Long] >= 1 && w.asInstanceOf[Long] <= 1920)
    assert(h.asInstanceOf[Long] >= 1 && h.asInstanceOf[Long] <= 1080)
  }

  test("decodePartition is an explicit stub") {
    intercept[UnsupportedOperationException] {
      Multimodal.decodePartition(Iterator.empty)
    }
  }

  test("sampleFrames: grid is t=0..<duration at the stride; short/zero rows drop") {
    val df = Seq((1L, 10000L), (2L, 10001L), (3L, 1L), (4L, 0L))
      .toDF("id", "dur")
    val got = Multimodal.sampleFrames(df, col("dur"), 5000L)
      .select("id", "frame_idx", "t_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq === Seq(
      (1L, 0L, 0L), (1L, 1L, 5000L),               // 10000 → frames at 0, 5000
      (2L, 0L, 0L), (2L, 1L, 5000L), (2L, 2L, 10000L), // 10001 → one more
      (3L, 0L, 0L)))                                // duration 1 → frame 0 only
  }

  test("audioWindows: overlap grid, clipped tail, short rows drop") {
    val df = Seq((1L, 9000L), (2L, 0L)).toDF("id", "dur")
    val got = Multimodal.audioWindows(df, col("dur"), 4000L, 2500L)
      .select("id", "win_idx", "start_ms", "end_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    // starts at 0, 2500, 5000, 7500 (< 9000); ends clip to min(+4000, 9000)
    assert(got.toSeq === Seq(
      (1L, 0L, 0L, 4000L), (1L, 1L, 2500L, 6500L),
      (1L, 2L, 5000L, 9000L), (1L, 3L, 7500L, 9000L)))
  }

  test("sampleFrames plans no join and no shuffle below the explode") {
    val plan = Multimodal.sampleFrames(
        Seq((1L, 60000L)).toDF("id", "dur"), col("dur"), 1000L)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"frame grid must be in-row:\n$plan")
  }
}
