package graft.operators

import graft.core.Checkpoints
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication family for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection.
  *
  * All variants follow the shuffle-frugal shape that survives 100 TB:
  * never compare all pairs — build compact per-doc signatures (one
  * exploded pass + one groupBy), bucket candidates with LSH so the
  * self-join only touches colliding buckets, and verify only candidates.
  * Hashing uses the sha256-derived 32-bit hash so results are
  * reproducible in any engine (the correctness oracle recomputes them).
  */
object Dedup {
  /** Mersenne prime 2^31-1 for the MinHash permutation family. */
  val P: Long = 2147483647L

  /** Deterministic (a, b) parameters for k hash permutations
    * h_j(x) = (a_j * x + b_j) mod P. `a` stays below 2^30 so a*x fits a
    * signed 64-bit integer for any 32-bit x. */
  def hashParams(k: Int): Seq[(Long, Long)] =
    (1 to k).map { j =>
      val a = (1103515245L * j + 12345L) % (1L << 30) max 1L
      val b = (1013904223L * j) % P
      (a, b)
    }

  /** Exact dedup by content hash: one group per distinct text, keeping the
    * smallest id (A9/A6 generalized). Hash-groupBy, map-side combinable. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Corpus-level boilerplate line removal (the CCNet/RefinedWeb cleanup
    * pass): drop every line whose document frequency exceeds `maxDf` —
    * nav bars, cookie banners, license footers repeat across thousands
    * of pages while real content lines are (near-)unique — and
    * reassemble each doc from its surviving lines in original order.
    *
    * Scale shape: posexplode → one map-side-combinable df aggregate over
    * line hashes → anti-join of the hot set → one groupBy(doc)
    * reassembly. The hot side is usually tiny (lines repeated > maxDf
    * times), but its CARDINALITY is not bounded by maxDf — a
    * template-heavy corpus can have millions of distinct boilerplate
    * lines — so the join is deliberately left unhinted: the planner
    * broadcasts when runtime stats say the hot set fits and falls back
    * to a shuffled anti-join when it doesn't, instead of a forced
    * broadcast OOMing the driver at 100 TB. Reassembly order is carried
    * explicitly (collect_list of (pos, line) then array_sort) — never
    * rely on collect_list's arrival order surviving a shuffle.
    *
    * Returns (id, n_kept, text) with `text` the cleaned document; docs
    * whose every line was boilerplate come back with n_kept = 0 and
    * empty text rather than vanishing. */
  def dropBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                           maxDf: Long): DataFrame = {
    val lines = graft.core.Tables.spread( // line split/hash parallelism (r17)
        docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        posexplode(split(col("__text"), "\n")).as(Seq("pos", "line")))
    val hot = lines.groupBy(col("line"))
      .agg(countDistinct(col("id")).as("line_df"))
      .filter(col("line_df") > maxDf).select("line")
    val kept = lines.join(hot, Seq("line"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text"))
    docs.select(col(idCol).as("id")).join(kept, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** Exact duplicated-SPAN excision (the token-level companion of
    * document near-dup): every w-token window that occurs ≥ 2 times
    * ANYWHERE in the corpus (across documents or repeated within one)
    * marks its token positions, and each document is reassembled from
    * the surviving tokens — the "exact substring deduplication" pass
    * training pipelines run to strip shared boilerplate passages and
    * within-doc repetition that document-level dedup cannot see.
    *
    * Scale shape, all linear in the token stream: one projection
    * materializes the token array per doc (NEVER re-tokenize inside the
    * window lambda — the shingleHashes lesson below), window hashes come
    * from slices of that array (O(w) chars hashed per position), the
    * duplicate set is one map-side-combinable count over window hashes,
    * and coverage explodes only DUPLICATE occurrences (w rows each) —
    * so every shuffle after the window count carries duplicate-sized,
    * not corpus-sized, rows. Reassembly never re-explodes the corpus:
    * covered positions collapse to one small array per affected doc and
    * an index-aware `filter` rebuilds the text in-row (a first draft
    * that posexploded every token back out and anti-joined the coverage
    * measured ~2× slower end-to-end at 10×). The duplicate-window join
    * is deliberately unhinted, same reasoning as the boilerplate hot
    * set. Window keys are full sha256 hex of the joined window text —
    * engine-replayable, collision-safe.
    *
    * Returns (id, n_dropped, text); a fully-duplicated doc comes back
    * with empty text, not missing. Output text is whitespace-normalized
    * (single spaces) by construction of the reassembly. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
                     w: Int): DataFrame = {
    require(w > 0, s"window must be positive, got $w")
    val tk = graft.core.Tables.spread( // sha-per-window parallelism (r17)
        docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), tokens(col("__text")).as("t"))
    val occ = tk
      .filter(size(col("t")) >= w)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("t")) - w),
        p => struct(p.as("p"),
          sha2(array_join(slice(col("t"), p + 1, lit(w)), " "), 256).as("g"))))
        .as("o"))
      .select(col("id"), col("o.p").as("p"), col("o.g").as("g"))
    val dup = occ.groupBy(col("g"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select("g")
    // One small array of covered positions per AFFECTED doc (distinct
    // folded into the array) — docs without duplicate windows never
    // appear on this side.
    val cov = occ.join(dup, Seq("g"))
      .select(col("id"), explode(sequence(col("p"), col("p") + w - 1)).as("pos"))
      .groupBy(col("id"))
      .agg(array_sort(array_distinct(collect_list(col("pos")))).as("cp"))
    val kept = tk.join(cov, Seq("id"), "left")
      .withColumn("k",
        when(col("cp").isNull, col("t"))
          .otherwise(filter(col("t"),
            (_, i) => not(array_contains(col("cp"), i)))))
    kept.select(col("id"),
      (size(col("t")) - size(col("k"))).cast("long").as("n_dropped"),
      array_join(col("k"), " ").as("text"))
  }

  /** Per-doc (id, shingle-hash) pairs: word-`n`-gram shingles, 32-bit
    * hashed, distinct within doc. The single exploded intermediate every
    * signature build shares.
    *
    * The token array is materialized as its own projection first: feeding
    * `tokens(text)` straight into [[wordNgrams]] would re-run the whole
    * split+filter expression inside every `element_at` of the shingle
    * lambda (~3·shingles re-tokenizations per document — measured 5×
    * slower end-to-end). */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame =
    graft.core.Tables.spread( // sha256-per-shingle must not run 1-task (r17)
        docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), tokens(col("__text")).as("__toks"))
      .select(col("id"),
        explode(array_distinct(wordNgrams(col("__toks"), n))).as("sh"))
      .select(col("id"), shaHash32(col("sh")).as("h"))

  /** Drop shingle hashes whose document frequency exceeds `maxDf` — the
    * boilerplate guard every inverted-index join needs at scale: a
    * shingle shared by d documents contributes O(d²) joined rows to any
    * `a.h = b.h` self-join, so one template phrase shared by millions of
    * docs turns the candidate stage quadratic. Capped shingles carry no
    * near-dup signal anyway (they don't discriminate). The hot set is
    * tiny by construction (only keys with df > maxDf), so the filter is
    * a broadcast anti-join; the df aggregate is map-side combinable. */
  def capDocFreq(sh: DataFrame, maxDf: Long): DataFrame = {
    val hot = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h")
    sh.join(broadcast(hot), Seq("h"), "left_anti")
  }

  /** MinHash signature over a precomputed (id, h) shingle-hash frame: k
    * min-hash columns m0..m{k-1} per doc. One groupBy — the k permutations
    * are k expressions over the same rows, not k passes — and a pipeline
    * builds shingles once and reuses them for signatures AND verification. */
  def minhashFromShingles(sh: DataFrame, k: Int): DataFrame = {
    val mins = hashParams(k).zipWithIndex.map { case ((a, b), j) =>
      min((col("h") * a + b) % P).as(s"m$j")
    }
    sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding over a MinHash signature: emit (band, band_hash, id),
    * where colliding (band, band_hash) buckets are near-dup candidates.
    * Band hash folds the band's rows with the same portable arithmetic.
    * One explode pass — NOT a bands-way union, which would recompute the
    * signature aggregation once per band. */
  def lshBands(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      val folded = cols.reduce((acc, c) => (acc * 31L + c) % P)
      struct(lit(b).as("band"), folded.as("band_hash"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("bh"))
      .select(col("bh.band").as("band"), col("bh.band_hash").as("band_hash"), col("id"))
  }

  /** Candidate pairs (a < b) from LSH buckets. The self-join keys on
    * (band, band_hash), so only same-bucket rows shuffle together. */
  def candidatePairs(bandDf: DataFrame): DataFrame =
    bandDf.alias("x")
      .join(bandDf.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

  /** Exact Jaccard over shingle-hash sets for candidate pairs only. */
  def jaccardVerify(pairs: DataFrame, shingles: DataFrame): DataFrame = {
    val sizes = shingles.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = shingles.alias("sa")
      .join(pairs, col("sa.id") === col("id_a"))
      .join(shingles.alias("sb"),
        col("sb.id") === col("id_b") && col("sa.h") === col("sb.h"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.alias("za"), col("id_a") === col("za.id")).withColumnRenamed("sz", "sz_a")
      .drop("id")
      .join(sizes.alias("zb"), col("id_b") === col("zb.id")).withColumnRenamed("sz", "sz_b")
      .drop("id")
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"), 4))
  }

  /** End-to-end MinHash+LSH near-dup: signatures → bands → candidates →
    * exact-Jaccard verify → pairs above threshold.
    *
    * The hashed-shingle frame is built ONCE and persisted: it feeds both
    * the signature build and the verify join (at 100 TB this is the
    * intermediate you'd checkpoint to storage instead). Default r = k/bands
    * of 8 puts the LSH collision threshold at (1/bands)^(1/r) ≈ 0.84 so
    * moderately-similar corpora don't flood the verify stage with false
    * candidates. */
  def nearDupMinhash(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 32, bands: Int = 4, n: Int = 3,
                     threshold: Double = 0.8,
                     maxDf: Long = Long.MaxValue): DataFrame = {
    require(k % bands == 0,
      s"signature length k=$k must be divisible by bands=$bands " +
        "(otherwise trailing signature columns are silently ignored)")
    // maxDf guards both the signature build AND the verify join below —
    // applied once, up front, so "similarity" means similarity over
    // discriminating shingles on every downstream path.
    val shRaw = shingleHashes(docs, idCol, textCol, n)
    val sh = (if (maxDf == Long.MaxValue) shRaw else capDocFreq(shRaw, maxDf))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The band frame feeds both sides of the candidate self-join; persist
    // the signature so the shingle aggregation runs once, not twice.
    val sig = minhashFromShingles(sh, k).persist(StorageLevel.MEMORY_AND_DISK)
    val cands = candidatePairs(lshBands(sig, bands, k / bands))
    jaccardVerify(cands, sh)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The publishable near-dup INDEX of a corpus: its LSH band table and
    * raw shingle hashes — the artifact [[nearDupIncrement]] dedups new
    * shards against, so a corpus refresh never re-pairs the base with
    * itself. Shingles are stored RAW (un-capped): the df-cap is a
    * corpus-relative decision and is applied over base ∪ delta at
    * refresh time. */
  def nearDupIndex(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, bands: Int, n: Int): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val sh = shingleHashes(docs, idCol, textCol, n)
    (lshBands(minhashFromShingles(sh, k), bands, k / bands), sh)
  }

  /** INCREMENTAL near-dup: the delta shard against a published
    * [[nearDupIndex]], plus the delta's own pairs — never a base×base
    * pair anywhere. This is the corpus-refresh shape at 100 TB: per
    * refresh the work is O(delta·bands) band probes + delta-involved
    * candidates, while the naive alternative re-runs the full
    * candidate self-join over the whole corpus every time a shard
    * lands. Emitted pairs are (least, greatest)-ordered, so the result
    * equals the FULL run's pair set restricted to pairs touching the
    * delta — which is exactly what the oracle states.
    *
    * df-cap contract: the cap is applied over base ∪ delta shingles for
    * the delta signatures and the verify join; the PUBLISHED base bands
    * were built under the base-time cap view. A shingle that crosses
    * the cap only because of the delta therefore still collides through
    * stale base bands until the next full rebuild — candidates are a
    * SUPERSET in that window (verify still filters exactly), the safe
    * direction. Periodic full [[nearDupMinhash]] rebuilds reset it. */
  def nearDupIncrement(baseBands: DataFrame, baseShingles: DataFrame,
                       delta: DataFrame, idCol: String, textCol: String,
                       k: Int, bands: Int, n: Int, threshold: Double,
                       maxDf: Long = Long.MaxValue): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val dshRaw = shingleHashes(delta, idCol, textCol, n)
    val allSh0 = baseShingles.unionByName(dshRaw)
    val allSh = (if (maxDf == Long.MaxValue) allSh0 else capDocFreq(allSh0, maxDf))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deltaIds = delta.select(col(idCol).as("id"))
    val dsh = allSh.join(deltaIds, Seq("id"), "left_semi")
    val dband = lshBands(minhashFromShingles(dsh, k), bands, k / bands)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vsBase = dband.alias("d")
      .join(baseBands.alias("b"),
        col("d.band") === col("b.band") &&
          col("d.band_hash") === col("b.band_hash") &&
          col("d.id") =!= col("b.id"))
      .select(least(col("b.id"), col("d.id")).as("id_a"),
        greatest(col("b.id"), col("d.id")).as("id_b"))
      .distinct()
    val cands = vsBase.unionByName(candidatePairs(dband)).distinct()
    // pin the (small, delta-sized) result so the two caches can be
    // released HERE — per-shard refresh is this operator's stated use
    // case, and a long-lived session calling it repeatedly would
    // otherwise accumulate persisted partitions until storage eviction
    // kicks in under pressure (advice r8)
    try graft.core.Checkpoints.pin(
      jaccardVerify(cands, allSh)
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard")))
    finally {
      allSh.unpersist()
      dband.unpersist()
    }
  }

  /** 32-bit SimHash fingerprint per doc: token-frequency-weighted bit
    * votes. One explode + one groupBy with 32 conditional-sum columns —
    * stays inside whole-stage codegen. */
  def simhash32(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = graft.core.Tables.spread( // sha-per-token parallelism (r17)
        docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(tokens(col("__text"))).as("tok"))
      .select(col("id"), shaHash32(col("tok")).as("h"))
    val votes = (0 until 32).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v$i")
    }
    val fp = (0 until 32).map { i =>
      when(col(s"v$i") > 0, 1L << i).otherwise(0L)
    }.reduce(_ + _)
    tok.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"), fp.as("simhash"))
  }

  /** 64-bit SimHash fingerprint — the SCALE variant of [[simhash32]]:
    * same frequency-weighted bit votes, token hashes from xxhash64.
    * With the 4-band split this gives 16-bit bands (65 536 buckets per
    * band vs 256 for 32-bit): the band space, which bounds how many
    * random pairs the candidate join admits (≈ bands · 2^-bandBits of
    * n²/2), grows 256x — the same fixed-band-space lesson the
    * ScaleRehearsal taught for SRP banding. `tokenHash` picks the token
    * hash: xxhash64 (default — fastest, engine-internal) or
    * [[graft.functions.TextFunctions.shaHash64]] (cross-engine
    * replayable, the q_simhash64_pairs gate config — same banding, same
    * verify, only the hash source differs). */
  def simhash64(docs: DataFrame, idCol: String, textCol: String,
                tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val tok = graft.core.Tables.spread( // hash-per-token parallelism (r17)
        docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(tokens(col("__text"))).as("tok"))
      .select(col("id"), tokenHash(col("tok")).as("h"))
    val votes = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v$i")
    }
    val fp = (0 until 64).map { i =>
      when(col(s"v$i") > 0, 1L << i).otherwise(0L)
    }.reduce(_ + _)
    tok.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"), fp.as("simhash"))
  }

  /** SimHash near-dup candidates: band the fingerprint into 4 equal
    * slices (any shared slice ⇒ candidate — pigeonhole-complete for
    * Hamming ≤ 3: a pair differing in ≤ 3 bits cannot touch all 4
    * bands), verify by Hamming distance ≤ maxHamming. One explode pass
    * over the signature — a bands-way union would recompute the
    * upstream fingerprint aggregation once per band. `bits` selects the
    * fingerprint width: 32 ([[simhash32]], 8-bit bands — gate config)
    * or 64 ([[simhash64]], 16-bit bands — corpus scale). */
  def simhashPairs(sig: DataFrame, maxHamming: Int = 3,
                   bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 64, s"bits must be 32 or 64, got $bits")
    val bandBits = bits / 4
    val mask = (1L << bandBits) - 1
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(mask).as("band_hash"))
    }
    val bandDf = sig
      .select(col("id"), col("simhash"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.band_hash").as("band_hash"),
        col("id"), col("simhash"))
    bandDf.alias("x").join(bandDf.alias("y"),
        col("x.band") === col("y.band") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Canonical-keeper assignment over near-dup pairs: connected
    * components by iterative min-label propagation (each doc's component
    * is the smallest id reachable through the pair graph). Pair graphs
    * are tiny relative to the corpus — only dup-cluster members appear.
    *
    * Scale/efficiency shape (one Spark job per hop):
    *   - `pairs` is checkpoint-truncated FIRST, so the (possibly very
    *     expensive) upstream pipeline that produced it runs exactly once
    *     — not once per branch of the edge-symmetrization union;
    *   - `edges` is hash-partitioned on the probe key `u` and pinned, so
    *     every hop's join reuses the same layout instead of reshuffling
    *     the edge table per iteration;
    *   - convergence (count of labels that changed) is observed on the
    *     hop's own pin ([[Checkpoints.pinObserved]]) — no second
    *     per-iteration job, and no assumption that ids are numeric
    *     (works for string doc ids / URLs too).
    * Returns (id, component). */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val p = Checkpoints.pin(
      pairs.select(col("id_a").as("u"), col("id_b").as("v")))
    val shufflePartitions = p.sparkSession.sessionState.conf.numShufflePartitions
    val edges = Checkpoints.pin(
      p.union(p.select(col("v").as("u"), col("u").as("v")))
        .distinct()
        .repartition(shufflePartitions, col("u")))
    // one hop per round; loud failure at the cap, never silent
    Checkpoints.converge(Checkpoints.pin(edges.select(col("u").as("id"))
        .distinct().select(col("id"), col("id").as("component"))), 1000,
      "connectedComponents did not converge within 1000 label-propagation " +
        "hops — component diameter exceeds the cap; raise it or pre-contract the graph") {
      labels =>
        // New label = min(own label, labels arriving over edges). The own
        // row is tagged so the hop also knows the OLD label — the changed
        // count falls out of the same aggregate, type-agnostically.
        val contrib = labels.join(edges, col("id") === col("u"))
          .select(col("v").as("id"), col("component"), lit(false).as("__self"))
        val hop = contrib
          .union(labels.select(col("id"), col("component"), lit(true).as("__self")))
          .groupBy("id")
          .agg(min(col("component")).as("component"),
            min(when(col("__self"), col("component"))).as("__old"))
        val (cp, m) = Checkpoints.pinObserved(hop,
          count(when(col("component") =!= col("__old"), 1)).as("n_changed"))
        (cp.select("id", "component"), m.getLong(0) == 0L)
    }
  }

  /** Alternating large-star/small-star connected components (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components
    * in MapReduce and Beyond", SoCC'14) — the DIAMETER-DECOUPLED twin
    * of [[connectedComponents]]. LPA moves labels ONE hop per round, so
    * a path-shaped component of diameter d needs d rounds (the measured
    * 40.8× wall at 100× rehearsal scale was exactly this). The star
    * operations rewire edges instead of moving labels:
    *
    *   large-star: every node's strictly-LARGER neighbors reconnect to
    *     the minimum of its closed neighborhood;
    *   small-star: every node and its smaller neighbors reconnect to
    *     its minimum smaller neighbor.
    *
    * Each pass halves long paths, so the round count is O(log² n)
    * worst-case and ~log n in practice — independent of diameter. Same
    * contract as [[connectedComponents]]: (id, component = min id in
    * component) for every node incident to `pairs`; identical output,
    * different round complexity, so the q_cc_star gate can share
    * q_dedup_assign's recursive-closure oracle.
    *
    * Per round: two self-aggregating joins over the CURRENT edge set
    * (which only shrinks toward the star forest — never the corpus),
    * each pinned to truncate lineage. Convergence = edge set unchanged,
    * detected by (count, two independent hash sums) riding the pin's
    * action, then CONFIRMED with one exact except() job — the hash
    * compare only decides when to pay for the exact check, so a hash
    * collision can cost an extra round but never a wrong answer. */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    def dedup(e: DataFrame) = e.filter(col("u") =!= col("v")).distinct()
    // r17 exchange budget: a round used to pay ~5 exchanges (largeStar's
    // groupBy + its output dedup, smallStar's dir distinct + groupBy +
    // final dedup). Two cuts, provably result-identical:
    //   - largeStar emits its rewired edges UNDEDUPED — smallStar's very
    //     first operation distincts the (hi, lo) normal form, so the
    //     composed round's edge set is unchanged while the intermediate
    //     (u, v) exchange disappears;
    //   - smallStar repartitions by `hi` BEFORE the distinct: hash(hi)
    //     clusters (hi, lo), so the dedup aggregate, the min(lo)
    //     aggregate and the m-join all share ONE exchange.
    // Net: 3 exchanges per round (largeStar groupBy, smallStar
    // repartition, final dedup), identical fixed point.
    def largeStar(e: DataFrame): DataFrame = {
      val bi = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = bi.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      bi.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("hi"),
          least(col("u"), col("v")).as("lo"))
        .filter(col("hi") =!= col("lo"))
        .repartition(col("hi")).distinct()
      val m = dir.groupBy("hi").agg(min(col("lo")).as("m"))
      val j = dir.join(m, "hi")
      dedup(j.select(col("lo").as("u"), col("m").as("v"))
        .union(j.select(col("hi").as("u"), col("m").as("v"))))
    }
    // the node inventory BEFORE star rewiring drops isolated/self-pair
    // nodes — the final labels must cover every input-incident node
    val nodes = Checkpoints.pin(
      pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id"))).distinct())
    // The round signature (count + two independent hash folds) is
    // observed on the pin's OWN action ([[Checkpoints.pinObserved]]): one
    // pass over the edge set per round, not two. r18: the folds are
    // bit_xor over xxhash64 — order-independent (the edge set is
    // DISTINCT, so multiset == set and XOR is a sound set signature) and
    // pure 64-bit codegen arithmetic. Signatures compare as Rows, so the
    // null folds of an empty edge set need no special case. The signature
    // only decides WHEN to pay for the exact exceptAll check, so a
    // collision costs an extra round, never a wrong answer.
    def pinWithSignature(e: DataFrame): (DataFrame, Row) =
      Checkpoints.pinObserved(e, count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(u, v))").as("h1"),
        expr("bit_xor(xxhash64(31, v, u))").as("h2"))
    // ~log² rounds on any real graph; loud, never silent
    val (edges, _) = Checkpoints.converge(pinWithSignature(dedup(
        pairs.select(col("id_a").as("u"), col("id_b").as("v")))), 60,
      "connectedComponentsStar did not converge in 60 alternating " +
        "rounds — pathological input; raise the cap") { case (e, sig) =>
      val (next, nsig) = pinWithSignature(smallStar(largeStar(e)))
      ((next, nsig), nsig == sig && next.exceptAll(e).isEmpty)
    }
    // fixed point = star forest: every non-root points at its component
    // min; roots and isolated nodes label themselves
    nodes.join(edges, nodes("id") === edges("u"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("component"))
  }

  /** n-gram-Jaccard near-dup via a prefix-filtered inverted index (the
    * AllPairs/PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08).
    *
    * Lossless candidate pruning: J(a,b) ≥ t implies the overlap o
    * satisfies o ≥ ⌈t·|a|⌉ and o ≥ ⌈t·|b|⌉, so under ANY global shingle
    * order a true pair must share a shingle inside BOTH docs' first
    * |d| − ⌈t·|d|⌉ + 1 shingles. Only those prefixes (≈ (1−t)·|d|, so
    * ~20% at t=0.8) enter the `a.h = b.h` candidate self-join — the
    * quadratic stage shrinks ~(1−t)² ≈ 25× while the result set is
    * provably identical, which is why the DuckDB oracle can stay the
    * plain full-join spec. The global order is rarest-first (df, h):
    * canonical across docs, and putting rare shingles in prefixes keeps
    * candidate buckets small. Verification counts the exact intersection
    * for candidate pairs only, via two equi-joins against the full
    * shingle set; doc sizes ride along instead of re-joining after the
    * aggregate. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.8,
                        maxDf: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shRaw = shingleHashes(docs, idCol, textCol, n)
    val sh = (if (maxDf == Long.MaxValue) shRaw else capDocFreq(shRaw, maxDf))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfs = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byId = Window.partitionBy(col("id"))
    val ranked = sh.join(dfs, Seq("h"))
      .withColumn("rank", row_number().over(byId.orderBy(col("df"), col("h"))))
      .withColumn("sz", count(lit(1)).over(byId))
    val prefix = ranked
      .filter(col("rank") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("id"), col("h"), col("sz"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = prefix.alias("a").join(prefix.alias("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .distinct()
    cand
      .join(sh.alias("sa"), col("id_a") === col("sa.id"))
      .join(sh.alias("sb"),
        col("id_b") === col("sb.id") && col("sa.h") === col("sb.h"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Leakage-safe train/val/test split: assign every document to a split
    * by the hash of its near-dup CLUSTER representative, not its own id,
    * so near-duplicates can never straddle the train/eval boundary (the
    * classic eval-contamination hole a per-doc random split leaves open
    * — a paraphrase of a test doc lands in train and the benchmark is
    * compromised).
    *
    * `components` is [[connectedComponents]] output over the verified
    * near-dup pair graph — only docs that HAVE a near-dup appear in it;
    * a broadcast-able frame in practice (dup clusters are a small
    * fraction of any corpus), so the left join stays map-side and the
    * big side streams. Singletons are their own representative. The
    * bucket is the shared Knuth-rank order ([[Similarity.knuthRank]],
    * same id-range contract) mod 100 against cumulative percent
    * thresholds — deterministic on any cluster size, any run, and in
    * the DuckDB oracle.
    *
    * Returns (id, rep, split) with split ∈ train|val|test. */
  def splitByComponent(docs: DataFrame, idCol: String,
                       components: DataFrame,
                       trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct > 0 && trainPct + valPct < 100,
      s"need 0 < trainPct, 0 < valPct, trainPct+valPct < 100; got $trainPct/$valPct")
    val rep = coalesce(col("component"), col(idCol)).as("rep")
    val bucket = pmod(Similarity.knuthRank(col("rep")), lit(100L))
    docs.select(col(idCol))
      .join(broadcast(components.withColumnRenamed("id", idCol)),
        Seq(idCol), "left")
      .select(col(idCol), rep)
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test"))
  }
}
