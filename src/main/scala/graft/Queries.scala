package graft

import graft.core.Tables.load
import graft.functions.{AminoAcid, Barcode, DateNorm, ExactAgg, MapOps, QualityRules}
import graft.functions.TextFunctions._
import graft.operators.{Align, AsOf, Behavior, Bpe, Catalog, Classify, Clustering, Dedup, Dsir, Featurize, Graph, InvertedIndex, Joins, LanguageModel, Layout, Lineage, Multimodal, Pq, Retrieval, Sequencing, Shards, Similarity, Sketches, Skew, Snapshot, Stats, TimeSeries}
import graft.sources.{Files, Jdbc, Parsers, Sinks}
import graft.streaming.{Ingest, Sessionize}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The declared query surface (SURVEY §2.11 + the training-data-pipeline
  * extensions): every entry is a Spark query paired with ANSI/DuckDB SQL
  * that must hash-match it on the same parquet tables.
  *
  * Determinism rules used throughout, so 32 local threads, 1000
  * executors, and the DuckDB oracle all agree bit-for-bit:
  *   - money sums go through [[ExactAgg.moneySum]] (integral fixed-point,
  *     associative) instead of raw double sums;
  *   - ratios/similarities are rounded to 4 decimals on both sides;
  *   - hashes are sha256-derived (engine-portable), never xxhash;
  *   - every result ends in a total order on a unique key set.
  */
object Queries {
  private val P = 2147483647L // Mersenne 2^31-1, shared with Dedup

  // ---------------------------------------------------------------- SQL
  // fragments (DuckDB dialect) mirroring TextFunctions/Dedup expressions.
  /** tokens(text): whitespace split, no empties. */
  private val SqlToks =
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> len(t) > 0)"
  /** shaHash32(e): first 8 sha256 hex chars as a 32-bit integer. */
  private def sqlSh32(e: String) =
    s"CAST(concat('0x', substr(sha256($e), 1, 8)) AS BIGINT)"
  /** wordNgrams(tk, 3) — short docs collapse to one whole-text shingle. */
  private val SqlShingles3 =
    "CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
      "ELSE list_transform(generate_series(1, len(tk) - 2), i -> array_to_string(tk[i:i+2], ' ')) END"
  /** Shared CTE body (no WITH prefix): per-doc distinct hashed 3-gram
    * shingles (id, h). */
  private val SqlShBody =
    s"""toks AS (SELECT doc_id AS id, $SqlToks AS tk FROM documents),
       |sh0 AS (SELECT id, unnest(list_distinct($SqlShingles3)) AS s FROM toks),
       |sh AS (SELECT id, ${sqlSh32("s")} AS h FROM sh0)""".stripMargin
  private val SqlShCte = s"WITH $SqlShBody"

  /** Hot-shingle document-frequency cap (boilerplate guard): shingles
    * shared by more than ShMaxDf docs are dropped before any inverted
    * join — mirrored between engine (Dedup.capDocFreq) and oracle. At
    * sf0.01/0.1 the synthetic corpus has no shingle anywhere near the
    * cap, so results equal the uncapped run; at 100 TB the cap is what
    * keeps the `a.h = b.h` self-join from going quadratic on template
    * phrases. */
  private val ShMaxDf = 1000L
  /** CTE fragment (expects `sh(id, h)` in scope): `shc` = df-capped sh. */
  private val SqlShCap =
    s"""shdf AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= $ShMaxDf),
       |shc AS (SELECT sh.id, sh.h FROM sh JOIN shdf USING (h)),""".stripMargin

  private def moneySumSql(c: String) =
    s"sum(CAST(round($c * 100) AS BIGINT)) / 100.0"

  // ------------------------------------------------------------ Q-lookup
  // J6/P7: point lookup by key (barcode→sample analog).
  def lookup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer").filter(col("c_custkey") === 42)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")

  private val lookupSql =
    "SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer WHERE c_custkey = 42"

  // ------------------------------------------------------------- Q-route
  // P3/F2: suffix/type routing into tags, counts per route.
  def route(s: SparkSession, dir: String): DataFrame = {
    val tag = when(col("event_type") === "click", "interactive")
      .when(col("event_type") === "view", "passive")
      .when(col("event_type") === "error", "alert")
      .otherwise("other")
    load(s, dir, "events")
      .groupBy(tag.as("route"))
      .agg(count(lit(1)).as("n_events"),
        ExactAgg.moneySum(col("value"), 100).as("sum_value"))
      .orderBy("route")
  }

  private val routeSql =
    s"""SELECT CASE WHEN event_type = 'click' THEN 'interactive'
       |            WHEN event_type = 'view' THEN 'passive'
       |            WHEN event_type = 'error' THEN 'alert'
       |            ELSE 'other' END AS route,
       |       CAST(count(*) AS BIGINT) AS n_events,
       |       ${moneySumSql("value")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------- Q-validate
  // P2/P9: paired-completeness (odd group sizes) + checksum-char derivation
  // (register-iontorrent-data.py:79-94 algorithm over zero-padded keys).
  def validate(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") % 2 =!= 0)
      .withColumn("code9", lpad(col("l_orderkey").cast("string"), 9, "0"))
      .withColumn("check_char", Barcode.checksumChar(col("code9")))
      .orderBy("l_orderkey")

  private val validateSql =
    """SELECT l_orderkey, n, code9,
      |       CASE WHEN s > 57 THEN chr(s + 7) ELSE chr(s) END AS check_char
      |FROM (SELECT l_orderkey, n, code9,
      |             CAST(list_aggregate(list_transform(generate_series(1, 9),
      |               i -> ord(substr(code9, i, 1)) * i), 'sum') % 34 + 48 AS INTEGER) AS s
      |      FROM (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n,
      |                   lpad(CAST(l_orderkey AS VARCHAR), 9, '0') AS code9
      |            FROM lineitem GROUP BY 1 HAVING count(*) % 2 = 1))
      |ORDER BY l_orderkey""".stripMargin

  // ---------------------------------------------------------- Q-join-hash
  // J1/J2/P4: hash equi-join + band filter + explode of a split array.
  def joinHash(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
    val o = load(s, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .filter((col("l_discount") > 0.02 && col("l_discount") < 0.04) ||
        (col("l_discount") > 0.06 && col("l_discount") < 0.08))
      .select(explode(split(col("o_orderpriority"), "-")).as("token"),
        col("l_extendedprice"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"),
        ExactAgg.moneySum(col("l_extendedprice"), 100).as("revenue"))
      .orderBy("token")
  }

  private val joinHashSql =
    s"""SELECT token, CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |     CROSS JOIN unnest(string_split(o_orderpriority, '-')) AS u(token)
       |WHERE (l_discount > 0.02 AND l_discount < 0.04)
       |   OR (l_discount > 0.06 AND l_discount < 0.08)
       |GROUP BY token ORDER BY token""".stripMargin

  // -------------------------------------------------------------- Q-anti
  // J3/SO2: left-anti "VARIANTABSENT" analog.
  def anti(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "part")
      .join(load(s, dir, "lineitem").select("l_partkey"),
        col("p_partkey") === col("l_partkey"), "left_anti")
      .select(col("p_partkey"), col("p_name"), lit("VARIANTABSENT").as("status"))
      .orderBy("p_partkey")

  private val antiSql =
    """SELECT p_partkey, p_name, 'VARIANTABSENT' AS status FROM part
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |ORDER BY p_partkey""".stripMargin

  // ----------------------------------------------------------- Q-lineage
  // J7/J8: fixpoint ancestor walk over a customer→nation→region DAG.
  private def edgeTable(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer").select(
      concat(lit("C"), col("c_custkey")).as("child"),
      concat(lit("N"), col("c_nationkey")).as("parent"))
      .union(load(s, dir, "nation").select(
        concat(lit("N"), col("n_nationkey")).as("child"),
        concat(lit("R"), col("n_regionkey")).as("parent")))

  private val edgeSql =
    """edges AS (
      |  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS child,
      |         'N' || CAST(c_nationkey AS VARCHAR) AS parent FROM customer
      |  UNION ALL
      |  SELECT 'N' || CAST(n_nationkey AS VARCHAR),
      |         'R' || CAST(n_regionkey AS VARCHAR) FROM nation),
      |walk AS (
      |  SELECT child AS node, parent AS anc, CAST(1 AS BIGINT) AS depth FROM edges
      |  UNION ALL
      |  SELECT w.node, e.parent, w.depth + 1 FROM walk w JOIN edges e ON w.anc = e.child)""".stripMargin

  def lineage(s: SparkSession, dir: String): DataFrame =
    Lineage.ancestors(edgeTable(s, dir)).orderBy("node", "anc", "depth")

  private val lineageSql =
    s"""WITH RECURSIVE $edgeSql
       |SELECT node, anc, depth FROM walk ORDER BY node, anc, depth""".stripMargin

  // J9: root-finding walk.
  def lineageRoots(s: SparkSession, dir: String): DataFrame =
    Lineage.roots(edgeTable(s, dir)).orderBy("node", "root")

  private val lineageRootsSql =
    s"""WITH RECURSIVE $edgeSql
       |SELECT node, anc AS root, depth FROM walk
       |WHERE anc NOT IN (SELECT child FROM edges)
       |ORDER BY node, root""".stripMargin

  // ------------------------------------------------------- Q-descendants
  // J8: down-walk from start nodes over the same DAG (patient→descendants
  // analog: nation N3's descendants are its customers).
  def descendants(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Lineage.descendants(edgeTable(s, dir), Seq("N3", "R1").toDF("node"))
      .orderBy("start", "descendant", "depth")
  }

  private val descendantsSql = {
    // Same recursive walk as edgeSql but over reversed (down) edges.
    val downEdges = edgeSql
      .replace("walk AS (", "down AS (SELECT parent AS c, child AS p FROM edges),\nwalk AS (")
      .replace("SELECT child AS node, parent AS anc, CAST(1 AS BIGINT) AS depth FROM edges",
        "SELECT c AS node, p AS anc, CAST(1 AS BIGINT) AS depth FROM down")
      .replace("FROM walk w JOIN edges e ON w.anc = e.child",
        "FROM walk w JOIN down e ON w.anc = e.c")
      .replace("SELECT w.node, e.parent, w.depth + 1",
        "SELECT w.node, e.p, w.depth + 1")
    s"""WITH RECURSIVE $downEdges
       |SELECT node AS start, anc AS descendant, depth FROM walk
       |WHERE node IN ('N3', 'R1')
       |ORDER BY start, descendant, depth""".stripMargin
  }

  // ------------------------------------------------------- Q-groupcount
  // A1/A5/A7: group counts + deterministic collect_list.
  def groupCount(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        array_join(sort_array(collect_list(col("o_orderpriority"))), ",").as("prios"))
      .orderBy("o_custkey")

  private val groupCountSql =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |       array_to_string(list_sort(list(o_orderpriority)), ',') AS prios
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- Q-maxid
  // A2/A4/W2: max existing id per group + gap-free next-id for new rows.
  def maxId(s: SparkSession, dir: String): DataFrame = {
    val existing = load(s, dir, "customer")
      .select(col("c_nationkey").as("group"), col("c_custkey").as("num"))
    val fresh = load(s, dir, "supplier")
    Sequencing.nextIds(existing, fresh, "s_nationkey", col("s_suppkey"))
      .select("s_suppkey", "s_nationkey", "new_id")
      .orderBy("s_suppkey")
  }

  private val maxIdSql =
    """WITH maxes AS (SELECT c_nationkey AS g, max(c_custkey) AS mx FROM customer GROUP BY 1)
      |SELECT s_suppkey, s_nationkey,
      |       COALESCE(mx, 0) + row_number() OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) AS new_id
      |FROM supplier LEFT JOIN maxes ON s_nationkey = g
      |ORDER BY s_suppkey""".stripMargin

  // ------------------------------------------------------------ Q-report
  // K3/S13/W5: multi-dim ordered report (broadcast dims × fact rollup).
  def report(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val n = broadcast(load(s, dir, "nation"))
    val r = broadcast(load(s, dir, "region"))
    val o = load(s, dir, "orders")
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .join(o, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("r_name"), col("n_name"))
      .agg(countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"),
        ExactAgg.moneySum(col("o_totalprice"), 100).as("sum_total"))
      .orderBy("r_name", "n_name")
  }

  private val reportSql =
    s"""SELECT r_name, n_name,
       |       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
       |       CAST(count(o_orderkey) AS BIGINT) AS n_orders,
       |       ${moneySumSql("o_totalprice")} AS sum_total
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |LEFT JOIN orders ON o_custkey = c_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------- Q-dates
  // F4: render each date in one of 7 reference formats, normalize back.
  // Oracle = the original date, so this verifies a true round-trip.
  def dates(s: SparkSession, dir: String): DataFrame = {
    val d = col("o_orderdate")
    val k = pmod(col("o_orderkey"), lit(7))
    val rendered = when(k === 0, date_format(d, "yyyy-MM-dd'T'HH:mm:ss'Z'"))
      .when(k === 1, date_format(d, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
      .when(k === 2, date_format(d, "yyyy-MM-dd"))
      .when(k === 3, date_format(d, "dd.MM.yyyy"))
      .when(k === 4, date_format(d, "dd-MM-yyyy"))
      .when(k === 5, date_format(d, "yyyyMMdd"))
      .otherwise(date_format(d, "yyMMdd"))
    // spread: the 7-format regex normalization is scan-stage compute that
    // otherwise runs 1-task on a single-split file (r17)
    graft.core.Tables.spread(
        load(s, dir, "orders").select("o_orderkey", "o_orderdate"))
      .select(col("o_orderkey"), DateNorm.normalize(rendered).as("d"))
      .orderBy("o_orderkey")
  }

  private val datesSql =
    "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders ORDER BY o_orderkey"

  // ------------------------------------------------------------- Q-dedup
  // A9/A6: exact dedup by content hash.
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(load(s, dir, "documents"), "doc_id", "text").orderBy("text_sha")

  private val dedupExactSql =
    """SELECT sha256(text) AS text_sha, min(doc_id) AS keep_id,
      |       CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------- Q-neardup-ngram
  // n-gram Jaccard near-dup via inverted shingle index (never all pairs).
  def nearDupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(load(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8, maxDf = ShMaxDf)
      .orderBy("id_a", "id_b")

  private val nearDupNgramSql =
    s"""$SqlShCte,
       |$SqlShCap
       |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM shc GROUP BY id),
       |inter AS (SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
       |          FROM shc a JOIN shc b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |       round(CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE), 4) AS jaccard
       |FROM inter JOIN sizes za ON id_a = za.id JOIN sizes zb ON id_b = zb.id
       |WHERE round(CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE), 4) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------- Q-minhash
  // MinHash(k) + LSH(band) candidates, exact-Jaccard verified.
  // The oracle replays the identical permutation constants and band folds.
  private val MhK = 32
  private val MhBands = 4

  def nearDupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupMinhash(load(s, dir, "documents"), "doc_id", "text",
        k = MhK, bands = MhBands, n = 3, threshold = 0.8, maxDf = ShMaxDf)
      .orderBy("id_a", "id_b")

  /** CTE body ending in `pairs` = the verified MinHash near-dup pairs
    * over an arbitrary (id, text) source CTE — shared by
    * q_neardup_minhash, q_dedup_assign and q_curate. */
  private def minhashPairsBodyFrom(src: String, idCol: String): String = {
    val r = MhK / MhBands
    val mins = Dedup.hashParams(MhK).zipWithIndex
      .map { case ((a, b), j) => s"min((h * $a + $b) % $P) AS m$j" }
      .mkString(", ")
    val bandSelects = (0 until MhBands).map { b =>
      val fold = (0 until r).map(i => s"m${b * r + i}")
        .reduce((acc, c) => s"(($acc * 31 + $c) % $P)")
      s"SELECT $b AS band, $fold AS band_hash, id FROM sig"
    }.mkString(" UNION ALL ")
    s"""toks AS (SELECT $idCol AS id, $SqlToks AS tk FROM $src),
       |sh0 AS (SELECT id, unnest(list_distinct($SqlShingles3)) AS s FROM toks),
       |sh AS (SELECT id, ${sqlSh32("s")} AS h FROM sh0),
       |$SqlShCap
       |sig AS (SELECT id, $mins FROM shc GROUP BY id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b FROM bands x
       |         JOIN bands y ON x.band = y.band AND x.band_hash = y.band_hash AND x.id < y.id),
       |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM shc GROUP BY id),
       |inter AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_inter
       |          FROM cand JOIN shc sa ON sa.id = id_a
       |                    JOIN shc sb ON sb.id = id_b AND sa.h = sb.h GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b,
       |         round(CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE), 4) AS jaccard
       |  FROM inter JOIN sizes za ON id_a = za.id JOIN sizes zb ON id_b = zb.id
       |  WHERE round(CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE), 4) >= 0.8)""".stripMargin
  }

  private val minhashPairsBody: String =
    minhashPairsBodyFrom("documents", "doc_id")

  private val nearDupMinhashSql: String =
    s"""WITH $minhashPairsBody
       |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------- Q-dedup-incr
  // INCREMENTAL near-dup (Dedup.nearDupIndex + nearDupIncrement): the
  // delta shard (doc_id % 3 = 0) dedups against the published base
  // index — band probes + delta self-pairs, never a base×base pair —
  // the corpus-refresh shape that makes near-dup affordable to run per
  // shard at 100 TB instead of re-pairing the whole corpus. The ORACLE
  // runs the FULL corpus pair computation and restricts to pairs
  // touching the delta: two completely different candidate-generation
  // strategies, one pair set.
  private val IncrIndexDir = s"$FixtureRoot/neardup_index"

  def dedupIncrQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    publishOnce(IncrIndexDir, dir) {
      val (bands, sh) = Dedup.nearDupIndex(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", MhK, MhBands, 3)
      bands.write.mode("overwrite").parquet(s"$IncrIndexDir/bands")
      sh.write.mode("overwrite").parquet(s"$IncrIndexDir/shingles")
    }
    Dedup.nearDupIncrement(
        s.read.parquet(s"$IncrIndexDir/bands"),
        s.read.parquet(s"$IncrIndexDir/shingles"),
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        MhK, MhBands, 3, threshold = 0.8, maxDf = ShMaxDf)
      .orderBy("id_a", "id_b")
  }

  private val dedupIncrSql: String =
    s"""WITH $minhashPairsBody
       |SELECT id_a, id_b, jaccard FROM pairs
       |WHERE id_a % 3 = 0 OR id_b % 3 = 0
       |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------ Q-dedup-assign
  // Canonical keeper per near-dup cluster: connected components over the
  // verified pair graph (min reachable id). Oracle: recursive closure.
  def dedupAssign(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.nearDupMinhash(load(s, dir, "documents"), "doc_id", "text",
          k = MhK, bands = MhBands, n = 3, threshold = 0.8, maxDf = ShMaxDf))
      .orderBy("id")

  // --------------------------------------------------------- Q-cc-star
  // The DEPLOYABLE twin of q_dedup_assign's LPA components: alternating
  // large-star/small-star CC (Kiveris et al. SoCC'14,
  // Dedup.connectedComponentsStar) over the SAME verified pair graph,
  // against the SAME recursive-closure oracle — identical answer,
  // O(log n) rounds instead of O(diameter) hops, which is what survives
  // high-diameter dup chains at 100× (the 40.8× rehearsal wall).
  def ccStarQ(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponentsStar(
        Dedup.nearDupMinhash(load(s, dir, "documents"), "doc_id", "text",
          k = MhK, bands = MhBands, n = 3, threshold = 0.8, maxDf = ShMaxDf))
      .orderBy("id")

  private val dedupAssignSql: String =
    s"""WITH RECURSIVE $minhashPairsBody,
       |edges2 AS (SELECT id_a AS u, id_b AS v FROM pairs
       |           UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT u, v FROM edges2
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u)
       |SELECT u AS id, least(u, min(v)) AS component
       |FROM reach GROUP BY u ORDER BY id""".stripMargin

  // -------------------------------------------------------------- Q-split
  // Leakage-safe train/val/test split (Dedup.splitByComponent): split
  // membership is decided by the hash of the near-dup CLUSTER
  // representative (q_dedup_assign's connected components), so a
  // paraphrase of an eval doc cannot land in train. Oracle: the same
  // recursive closure as q_dedup_assign, then the Knuth-rank bucket of
  // coalesce(component, doc_id) against the 80/10 thresholds.
  private val SplitTrainPct = 80
  private val SplitValPct = 10

  def splitQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    Dedup.splitByComponent(
        docs.withColumnRenamed("doc_id", "id"), "id",
        Dedup.connectedComponents(
          Dedup.nearDupMinhash(docs, "doc_id", "text",
            k = MhK, bands = MhBands, n = 3, threshold = 0.8, maxDf = ShMaxDf)),
        SplitTrainPct, SplitValPct)
      .select(col("id").as("doc_id"), col("rep"), col("split"))
      .orderBy("doc_id")
  }

  private val splitSql: String =
    s"""WITH RECURSIVE $minhashPairsBody,
       |edges2 AS (SELECT id_a AS u, id_b AS v FROM pairs
       |           UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT u, v FROM edges2
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u),
       |comp AS (SELECT u AS id, least(u, min(v)) AS component
       |         FROM reach GROUP BY u),
       |rep AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
       |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
       |SELECT doc_id, rep,
       |       CASE WHEN (rep * 2654435761) % 4294967296 % 100 < $SplitTrainPct THEN 'train'
       |            WHEN (rep * 2654435761) % 4294967296 % 100 < ${SplitTrainPct + SplitValPct} THEN 'val'
       |            ELSE 'test' END AS split
       |FROM rep ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- Q-simhash
  // 32-bit SimHash fingerprint per document.
  def simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash32(load(s, dir, "documents"), "doc_id", "text").orderBy("id")

  private val simhashSql: String = {
    val votes = (0 until 32)
      .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(", ")
    val fp = (0 until 32)
      .map(i => s"CASE WHEN v$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (SELECT doc_id AS id, unnest($SqlToks) AS t FROM documents),
       |h AS (SELECT id, ${sqlSh32("t")} AS h FROM tok),
       |v AS (SELECT id, $votes FROM h GROUP BY id)
       |SELECT id, CAST($fp AS BIGINT) AS simhash FROM v ORDER BY id""".stripMargin
  }

  // ------------------------------------------------------ Q-simhash-pairs
  // SimHash near-dup PAIRS (q_simhash stops at fingerprints): byte-banded
  // candidates, Hamming-verified. Any shared fingerprint byte makes a
  // candidate pair; bit_count(xor) ≤ maxHamming keeps it.
  private val SimhashMaxHamming = 6

  def simhashPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
        Dedup.simhash32(load(s, dir, "documents"), "doc_id", "text"),
        maxHamming = SimhashMaxHamming)
      .orderBy("id_a", "id_b")

  private val simhashPairsSql = {
    val votes = (0 until 32)
      .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(", ")
    val fp = (0 until 32)
      .map(i => s"CASE WHEN v$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    val bandSelects = (0 until 4)
      .map(b => s"SELECT $b AS band, (simhash >> ${b * 8}) & 255 AS band_hash, id, simhash FROM s")
      .mkString(" UNION ALL ")
    s"""WITH tok AS (SELECT doc_id AS id, unnest($SqlToks) AS t FROM documents),
       |hh AS (SELECT id, ${sqlSh32("t")} AS h FROM tok),
       |v AS (SELECT id, $votes FROM hh GROUP BY id),
       |s AS (SELECT id, CAST($fp AS BIGINT) AS simhash FROM v),
       |bands AS ($bandSelects),
       |pairs AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b,
       |         bit_count(xor(x.simhash, y.simhash)) AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.id < y.id)
       |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM pairs
       |WHERE hamming <= $SimhashMaxHamming ORDER BY id_a, id_b""".stripMargin
  }

  // --------------------------------------------------- Q-simhash64-pairs
  // The DEPLOYABLE 64-bit SimHash config under the hash gate: 16-bit
  // bands (65 536 buckets/band vs 256 for 32-bit — the band space that
  // keeps the candidate join sub-quadratic at corpus scale), token
  // hashes from shaHash64 so the oracle replays them bit-for-bit
  // (signed(hi32)·2^32 + lo32 from sha256 hex — pure arithmetic, no
  // unsigned types; xxhash64 stays the engine-internal fast path).
  def simhash64PairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(
        Dedup.simhash64(load(s, dir, "documents"), "doc_id", "text",
          tokenHash = graft.functions.TextFunctions.shaHash64),
        maxHamming = SimhashMaxHamming, bits = 64)
      .orderBy("id_a", "id_b")

  /** Shared CTE body (no WITH prefix) replaying the 64-bit SimHash
    * candidate stage bit-for-bit: `pairs(id_a, id_b, hamming)` holds
    * the banded candidates with their exact Hamming distance. */
  private val simhash64CandBody: String = {
    val votes = (0 until 64)
      .map(i => s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i")
      .mkString(", ")
    // bit 63's weight is Long.MinValue; every partial sum stays inside
    // signed-64 range (bits 0..62 total at most 2^63-1, the negative
    // term only lowers it), so DuckDB's checked BIGINT + never trips
    val fp = (0 until 64)
      .map(i => s"CASE WHEN v$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    val bandSelects = (0 until 4)
      .map(b => s"SELECT $b AS band, (simhash >> ${b * 16}) & 65535 AS band_hash, id, simhash FROM s")
      .mkString(" UNION ALL ")
    s"""tok AS (SELECT doc_id AS id, unnest($SqlToks) AS t FROM documents),
       |hh0 AS (SELECT id,
       |          CAST(concat('0x', substr(sha256(t), 1, 8)) AS BIGINT) AS hi,
       |          CAST(concat('0x', substr(sha256(t), 9, 8)) AS BIGINT) AS lo
       |        FROM tok),
       |hh AS (SELECT id,
       |         (CASE WHEN hi >= 2147483648 THEN hi - 4294967296 ELSE hi END)
       |           * 4294967296 + lo AS h
       |       FROM hh0),
       |v AS (SELECT id, $votes FROM hh GROUP BY id),
       |s AS (SELECT id, CAST($fp AS BIGINT) AS simhash FROM v),
       |bands AS ($bandSelects),
       |pairs AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b,
       |         bit_count(xor(x.simhash, y.simhash)) AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.id < y.id)""".stripMargin
  }

  private val simhash64PairsSql =
    s"""WITH $simhash64CandBody
       |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM pairs
       |WHERE hamming <= $SimhashMaxHamming ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------- Q-simhash-verified
  // The DEPLOYMENT composition the r11 recall scorecard prescribes for
  // simhash (precision 0.049 raw at 64 bits): the banded 64-bit
  // candidates feed the exact-Jaccard verify stage (the same df-capped
  // shingle verify q_neardup_minhash ends in), so the output is a
  // TRUE-pair set (precision 1.0 vs the jaccard≥0.8 criterion) at the
  // candidate stage's recall. At 100 TB the verify join touches only
  // candidate pairs — the banded stage already made the volume
  // sub-quadratic; this just stops anyone acting on hamming-near
  // false pairs. ORACLE replays candidates bit-for-bit (shaHash64
  // votes) and the capped-shingle jaccard.
  def simhashVerifiedQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val cands = Dedup.simhashPairs(
        Dedup.simhash64(docs, "doc_id", "text",
          tokenHash = graft.functions.TextFunctions.shaHash64),
        maxHamming = SimhashMaxHamming, bits = 64)
      .select("id_a", "id_b")
    val sh = Dedup.capDocFreq(
      Dedup.shingleHashes(docs, "doc_id", "text", n = 3), ShMaxDf)
    Dedup.jaccardVerify(cands, sh)
      .filter(col("jaccard") >= 0.8)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy("id_a", "id_b")
  }

  private val simhashVerifiedSql =
    s"""WITH $simhash64CandBody,
       |cand AS (SELECT id_a, id_b FROM pairs WHERE hamming <= $SimhashMaxHamming),
       |toks2 AS (SELECT doc_id AS id, $SqlToks AS tk FROM documents),
       |sh0 AS (SELECT id, unnest(list_distinct($SqlShingles3)) AS s2 FROM toks2),
       |sh AS (SELECT id, ${sqlSh32("s2")} AS h FROM sh0),
       |$SqlShCap
       |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM shc GROUP BY id),
       |inter AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_inter
       |          FROM cand JOIN shc sa ON sa.id = id_a
       |                    JOIN shc sb ON sb.id = id_b AND sa.h = sb.h GROUP BY 1, 2),
       |vp AS (
       |  SELECT id_a, id_b,
       |         round(CAST(n_inter AS DOUBLE) / CAST(za.sz + zb.sz - n_inter AS DOUBLE), 4) AS jaccard
       |  FROM inter JOIN sizes za ON id_a = za.id JOIN sizes zb ON id_b = zb.id)
       |SELECT id_a, id_b, jaccard FROM vp
       |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------------------------- Q-knn
  // Brute-force cosine top-k against a broadcast query vector.
  def knn(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    Similarity.bruteForceKnn(emb, "vec_id", "embedding", query, 10)
      .select("vec_id", "label", "sim")
  }

  private val knnSql: String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(generate_series(1, 64),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, label,
       |       round(${dot("embedding", "qv")} /
       |             (sqrt(${dot("embedding", "embedding")}) * sqrt(${dot("qv", "qv")})), 4) AS sim
       |FROM embeddings CROSS JOIN q
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  // -------------------------------------------------------------- Q-mmr
  // Maximal-marginal-relevance diversified retrieval (Similarity
  // .mmrDiversified): per query (vec_id % 97), gather the cosine top-20
  // distributed, then greedily pick 5 maximizing λ·rel − (1−λ)·max-sim-
  // to-selected with λ = 3/4. The greedy key is the scaled INTEGER
  // 3·R − M (R, M = 4-decimal sims × 10⁴) — a double score of the
  // textbook form sits arbitrarily close to rounding boundaries where
  // Spark's and DuckDB's round() disagree (measured here at 0.21385).
  // The oracle replays the loop as 5 unrolled argmax CTE steps over the
  // same top-20 with the shared dot fold and the same integer key;
  // tie-break (score desc, cid). Same collect-free shape at 100 TB:
  // the corpus is touched only by the distributed top-n gather, the
  // greedy step works on ≤20 rows per query inside mapGroups.
  private val MmrK = 5
  private val MmrLamNum = 3
  private val MmrLamDen = 4
  private val MmrTopN = 20

  def mmrQ(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val emb = load(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val scored = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        round(Similarity.cosine(col("embedding"), col("qv")), 4).as("rel"),
        col("embedding").as("vec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rel").desc, col("cid"))
    val cand = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MmrTopN).drop("rn")
    Similarity.mmrDiversified(cand, MmrK, MmrLamNum, MmrLamDen)
      .orderBy("qid", "rank")
  }

  // lazy: interpolates EmbDim (declared further down) via sqlEmbDot — a
  // strict val here would capture its pre-init 0 during object
  // construction and generate an empty generate_series fold.
  private lazy val mmrSql: String = {
    def cos(x: String, y: String) =
      s"round(${sqlEmbDot(x, y)} / (sqrt(${sqlEmbDot(x, x)}) * sqrt(${sqlEmbDot(y, y)})), 4)"
    def scl(e: String) = s"CAST(round(($e) * 10000, 0) AS BIGINT)"
    val (lam, mu) = (MmrLamNum, MmrLamDen - MmrLamNum)
    val sb = new StringBuilder(
      s"""q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qv
         |     FROM embeddings WHERE vec_id % 97 = 0),
         |rel0 AS (SELECT q.qid, e.vec_id AS cid,
         |           ${cos("e.embedding", "q.qv")} AS rel, e.embedding AS vec
         |         FROM q JOIN embeddings e ON e.vec_id <> q.qid),
         |cand AS MATERIALIZED (
         |  SELECT qid, cid, rel, ${scl("rel")} AS relr, vec FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY rel DESC, cid) AS rn FROM rel0)
         |  WHERE rn <= $MmrTopN),
         |s1 AS MATERIALIZED (
         |  SELECT qid, cid, relr, vec, sc AS score, 1 AS rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sc DESC, cid) AS rn
         |    FROM (SELECT *, $lam * relr AS sc FROM cand))
         |  WHERE rn = 1),
         |sel1 AS MATERIALIZED (SELECT qid, cid, relr, vec FROM s1)""".stripMargin)
    for (i <- 2 to MmrK) {
      val p = i - 1
      sb ++= s""",
         |rem$i AS (SELECT c.* FROM cand c LEFT JOIN sel$p s
         |          ON c.qid = s.qid AND c.cid = s.cid WHERE s.cid IS NULL),
         |ms$i AS (SELECT c.qid, c.cid, max(${scl(cos("c.vec", "s.vec"))}) AS msim
         |         FROM rem$i c JOIN sel$p s ON c.qid = s.qid
         |         GROUP BY c.qid, c.cid),
         |s$i AS MATERIALIZED (
         |  SELECT qid, cid, relr, vec, sc AS score, $i AS rank FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY sc DESC, cid) AS rn
         |    FROM (SELECT r.qid, r.cid, r.relr, r.vec,
         |            $lam * r.relr - $mu * m.msim AS sc
         |          FROM rem$i r JOIN ms$i m ON r.qid = m.qid AND r.cid = m.cid))
         |  WHERE rn = 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel$p
         |  UNION ALL SELECT qid, cid, relr, vec FROM s$i)""".stripMargin
    }
    s"""WITH ${sb.toString}
       |SELECT qid, rank, cid, CAST(score AS BIGINT) AS score
       |FROM (${(1 to MmrK).map(i => s"SELECT qid, rank, cid, score FROM s$i").mkString(" UNION ALL ")})
       |ORDER BY qid, rank""".stripMargin
  }

  // ----------------------------------------------------------- Q-knn-ivf
  // The IVF ANN *scale path* through the gate (q_knn covers the exact
  // baseline): deterministic strided centroids, argmin cell assignment,
  // nProbe-cell probe, exact cosine rank within probed cells. The oracle
  // replays centroid choice/assignment/probe in SQL — same left-to-right
  // double folds both sides, so cells and ranks match bit-for-bit. At
  // 100 TB the assigned table is written partitioned by cell; the probe
  // reads nProbe/nCells of the data (partition pruning), which is the
  // point of IVF.
  private val IvfCells = 16
  private val IvfProbe = 4

  def knnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    Similarity.ivfKnn(emb, "vec_id", "embedding", query, 10, IvfCells, IvfProbe)
      .select("vec_id", "label", "sim")
  }

  private val knnIvfSql = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(generate_series(1, 64),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""WITH cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS c
       |  FROM embeddings
       |  WHERE vec_id % greatest(1, (SELECT count(*) FROM embeddings) // $IvfCells) = 0
       |  ORDER BY vec_id LIMIT $IvfCells),
       |assigned AS (
       |  SELECT vec_id, label, embedding, cid,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY ${dot("embedding", "c")} * -2 + ${dot("c", "c")}, cid) AS rn
       |  FROM embeddings CROSS JOIN cents),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |probe AS (
       |  SELECT cid FROM cents CROSS JOIN q
       |  ORDER BY ${dot("c", "c")} - 2 * ${dot("c", "qv")}, cid LIMIT $IvfProbe)
       |SELECT vec_id, label,
       |       round(${dot("embedding", "qv")} /
       |             (sqrt(${dot("embedding", "embedding")}) * sqrt(${dot("qv", "qv")})), 4) AS sim
       |FROM assigned CROSS JOIN q
       |WHERE rn = 1 AND cid IN (SELECT cid FROM probe)
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------- Q-knn-int8
  // ANN over the int8 scalar-quantized corpus (Similarity.quantizeInt8 +
  // knnInt8): per-vector scale = max|x|/127, codes round(x/scale),
  // ranking by exact cosine of the RECONSTRUCTION (codes·scale) against
  // the full-precision query — the asymmetric-distance compression shape
  // a 100 TB embedding store runs on (4× fewer bytes scanned). The
  // oracle replays quantize→reconstruct→rank with the same fold order;
  // every step (abs/max/divide/round-half-away/multiply) is
  // engine-portable, so the top-k hashes bit-for-bit.
  def knnInt8Q(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    Similarity.knnInt8(emb, "vec_id", "embedding", query, 10)
      .select("vec_id", "label", "sim")
  }

  private val knnInt8Sql: String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(generate_series(1, 64),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qz AS (SELECT vec_id, label, embedding,
       |         list_max(list_transform(embedding,
       |           x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS s
       |       FROM embeddings),
       |rec AS (SELECT vec_id, label,
       |         CASE WHEN s = 0 THEN list_transform(embedding, x -> 0.0)
       |              ELSE list_transform(embedding,
       |                x -> round(CAST(x AS DOUBLE) / s, 0) * s) END AS r
       |       FROM qz)
       |SELECT vec_id, label,
       |       round(${dot("r", "qv")} /
       |             (sqrt(${dot("r", "r")}) * sqrt(${dot("qv", "qv")})), 4) AS sim
       |FROM rec CROSS JOIN q
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  // ------------------------------------------------------------ Q-knn-pq
  // Product-quantization ANN (operators/Pq): per-subspace Lloyd
  // codebooks, m-byte codes, asymmetric-distance top-k — the memory-
  // compression leg of the IVF/int8/PQ stack. The oracle replays the
  // FULL chain per subspace (the kmeansCtes pattern at subvector
  // granularity): quantized init, 2 Lloyd rounds, final assignment, the
  // query's LUT, and the m-lookup distance sum in the same j-order.
  private val PqM = 4
  private val PqK = 8
  private val PqIters = 2
  // def, not val: EmbDim is declared further down the object and a val
  // here would initialize to 0 (the sqlEmbDot forward-reference rule).
  private def PqSubDim = EmbDim / PqM

  def knnPqQ(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val cb = Pq.train(emb, "vec_id", "embedding", PqM, PqK, PqIters)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb,
      carry = Seq("label"))
    val qv = Pq.quantizedQuery(
      emb.filter(col("vec_id") === 0), "embedding")
    Pq.knnAdc(codes, cb, qv, 10)
      .select(col("id"), col("label"), col("adist"))
  }

  /** One subspace's CTE chain (slice → strided init → `PqIters` Lloyd
    * rounds → final assignment g{j} → the query's per-centroid distance
    * table ld{j}), mirroring [[graft.operators.Pq]] /
    * [[graft.operators.Clustering.kmeansFit]] over columns
    * [lo+1, lo+subDim]. Shares the fold-identical dot/nsq shapes with
    * kmeansCtes. */
  private def pqSubCtes(j: Int): String = {
    val sd = PqSubDim
    val lo = j * sd
    def dotD(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(generate_series(1, $sd), i -> $x[i] * $y[i])),
         |  (acc, v) -> acc + v)""".stripMargin
    def nsq(c: String) = dotD(c, c)
    val d2q =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(generate_series(1, $sd),
         |      i -> (CAST(qq.qj[i] AS DOUBLE) - c.c[i]) *
         |           (CAST(qq.qj[i] AS DOUBLE) - c.c[i]))),
         |  (acc, v) -> acc + v)""".stripMargin
    val iterCtes = (1 to PqIters).map { i =>
      val p = i - 1
      s"""s$j$i AS (SELECT e.id, e.q, c.cid,
         |  row_number() OVER (PARTITION BY e.id
         |    ORDER BY ${dotD("e.vd", "c.c")} * -2.0 + c.nsq, c.cid) AS rn
         |  FROM e$j e CROSS JOIN c$j$p c),
         |a$j$i AS (SELECT id, q, cid FROM s$j$i WHERE rn = 1),
         |u$j$i AS (SELECT cid, t.i AS pos, CAST(sum(q[t.i]) AS BIGINT) AS s,
         |          CAST(count(*) AS BIGINT) AS cnt
         |        FROM a$j$i CROSS JOIN
         |          (SELECT unnest(generate_series(1, $sd)) AS i) t
         |        GROUP BY cid, t.i),
         |b$j$i AS (SELECT p.cid, coalesce(m.c, p.c) AS c
         |        FROM c$j$p p LEFT JOIN
         |          (SELECT cid, list(CAST(s AS DOUBLE) / cnt ORDER BY pos) AS c
         |           FROM u$j$i GROUP BY cid) m USING (cid)),
         |c$j$i AS (SELECT cid, c, ${nsq("c")} AS nsq FROM b$j$i)""".stripMargin
    }.mkString(",\n")
    s"""e$j AS (SELECT id, q[${lo + 1}:${lo + sd}] AS q,
       |    list_transform(q[${lo + 1}:${lo + sd}],
       |      x -> CAST(x AS DOUBLE)) AS vd
       |  FROM pq_emb),
       |i${j}0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, vd AS c
       |       FROM e$j, pq_cfg WHERE id % stride = 0 ORDER BY id LIMIT $PqK),
       |c${j}0 AS (SELECT cid, c, ${nsq("c")} AS nsq FROM i${j}0),
       |$iterCtes,
       |f$j AS (SELECT e.id, c.cid,
       |  row_number() OVER (PARTITION BY e.id
       |    ORDER BY ${dotD("e.vd", "c.c")} * -2.0 + c.nsq, c.cid) AS rn
       |  FROM e$j e CROSS JOIN c$j$PqIters c),
       |g$j AS (SELECT id, cid FROM f$j WHERE rn = 1),
       |ld$j AS (SELECT c.cid, $d2q AS d
       |  FROM c$j$PqIters c CROSS JOIN
       |    (SELECT q[${lo + 1}:${lo + sd}] AS qj FROM pq_emb WHERE id = 0) qq)"""
      .stripMargin
  }

  private def knnPqSql: String = {
    val subs = (0 until PqM).map(pqSubCtes).mkString(",\n")
    val dSum = (0 until PqM).map(j => s"ld$j.d").mkString(" + ")
    val joins = (1 until PqM).map(j => s"JOIN g$j USING (id)").mkString(" ") +
      (0 until PqM).map(j => s" JOIN ld$j ON ld$j.cid = g$j.cid").mkString
    s"""WITH pq_emb AS (SELECT vec_id AS id, label,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS q
       |  FROM embeddings),
       |pq_cfg AS (SELECT greatest(1, CAST(count(*) AS BIGINT) // $PqK) AS stride
       |        FROM pq_emb),
       |$subs
       |SELECT g0.id, e.label, round($dSum, 4) AS adist
       |FROM g0 $joins JOIN pq_emb e ON e.id = g0.id
       |ORDER BY $dSum, g0.id LIMIT 10""".stripMargin
  }

  // --------------------------------------------------------- Q-knn-ivfrr
  // IVF-PQ SHORTLIST → EXACT RE-RANK (Pq.ivfPqKnnRerank): the
  // deployable composition of the whole ANN stack — coarse IVF routing
  // to nProbe cells, ADC over the 64x-compressed codes to a shortlist,
  // then exact cosine over the shortlist's full vectors. Compression
  // prunes, floats decide. The oracle replays every stage: the PQ
  // chain (pqSubCtes, the q_knn_pq oracle), the IVF assignment/probe
  // (the q_knn_ivf oracle), the adist shortlist restricted to probed
  // cells, and the exact re-rank — same fold orders throughout, so the
  // top-k hashes bit-for-bit.
  private val IvfRrShort = 50

  def knnIvfRrQ(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val cb = Pq.train(emb, "vec_id", "embedding", PqM, PqK, PqIters)
    val query = emb.filter(col("vec_id") === 0)
    Pq.ivfPqKnnRerank(emb, "vec_id", "embedding", cb, query, 10,
      IvfCells, IvfProbe, IvfRrShort)
      .select("vec_id", "label", "sim")
  }

  private def knnIvfRrSql: String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(generate_series(1, 64),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |  (acc, v) -> acc + v)""".stripMargin
    val subs = (0 until PqM).map(pqSubCtes).mkString(",\n")
    val dSum = (0 until PqM).map(j => s"ld$j.d").mkString(" + ")
    val joins = (1 until PqM).map(j => s"JOIN g$j USING (id)").mkString(" ") +
      (0 until PqM).map(j => s" JOIN ld$j ON ld$j.cid = g$j.cid").mkString
    s"""WITH pq_emb AS (SELECT vec_id AS id, label,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS q
       |  FROM embeddings),
       |pq_cfg AS (SELECT greatest(1, CAST(count(*) AS BIGINT) // $PqK) AS stride
       |        FROM pq_emb),
       |$subs,
       |cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS c
       |  FROM embeddings
       |  WHERE vec_id % greatest(1, (SELECT count(*) FROM embeddings) // $IvfCells) = 0
       |  ORDER BY vec_id LIMIT $IvfCells),
       |assigned AS (
       |  SELECT vec_id, cid,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY ${dot("embedding", "c")} * -2 + ${dot("c", "c")}, cid) AS rn
       |  FROM embeddings CROSS JOIN cents),
       |qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |probe AS (
       |  SELECT cid FROM cents CROSS JOIN qv
       |  ORDER BY ${dot("c", "c")} - 2 * ${dot("c", "qv")}, cid LIMIT $IvfProbe),
       |ad AS (SELECT g0.id, $dSum AS ad FROM g0 $joins),
       |short AS (
       |  SELECT ad.id FROM ad JOIN assigned a ON a.vec_id = ad.id
       |  WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM probe)
       |  ORDER BY ad.ad, ad.id LIMIT $IvfRrShort)
       |SELECT e.vec_id, e.label,
       |       round(${dot("e.embedding", "qv.qv")} /
       |             (sqrt(${dot("e.embedding", "e.embedding")}) *
       |              sqrt(${dot("qv.qv", "qv.qv")})), 4) AS sim
       |FROM embeddings e JOIN short ON short.id = e.vec_id CROSS JOIN qv
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  // ------------------------------------------------------------ Q-tokens
  // Token counting: whitespace + BPE-ish subword regex.
  def tokensQ(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(col("text"))
    load(s, dir, "documents").select(
        col("doc_id"),
        size(tk).cast("long").as("n_tokens"),
        size(array_distinct(tk)).cast("long").as("n_distinct"),
        size(subtokens(col("text"))).cast("long").as("n_subtokens"))
      .orderBy("doc_id")
  }

  private val tokensSql =
    s"""SELECT doc_id, CAST(len($SqlToks) AS BIGINT) AS n_tokens,
       |       CAST(len(list_distinct($SqlToks)) AS BIGINT) AS n_distinct,
       |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_subtokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ Q-gopher
  // Gopher-style rule filter (functions/QualityRules): the standard
  // structural pre-filter — word-count bounds, mean word length, symbol
  // ratio, bullet/ellipsis line fractions, alpha-word fraction,
  // must-have stopwords. Every rule is an integer cross-multiplication,
  // so the row carries only longs and booleans — nothing floats.
  def gopherQ(s: SparkSession, dir: String): DataFrame =
    QualityRules.flags(load(s, dir, "documents"), "doc_id", "text")
      .orderBy("id")

  /** The seven Gopher rule predicates over the `m` metrics CTE — shared
    * between q_gopher (which reports each flag) and q_classify (which
    * uses their AND as the pseudo-label). */
  private val SqlGopherConds: Seq[(String, String)] = Seq(
    "r_word_count" -> "(n_words >= 3 AND n_words <= 100000)",
    "r_mean_word_len" -> "(total_chars >= n_words * 3 AND total_chars <= n_words * 10)",
    "r_symbol_ratio" -> "((n_hash + n_ell) * 10 <= n_words)",
    "r_bullet_lines" -> "(n_bul * 10 <= n_lines * 9)",
    "r_ellipsis_lines" -> "(n_ee * 10 <= n_lines * 3)",
    "r_alpha_words" -> "(n_alpha * 5 >= n_words * 4)",
    "r_stopwords" -> "(n_stop >= 2)")

  private val SqlGopherKeepExpr =
    SqlGopherConds.map(_._2).mkString("(", "\n    AND ", ")")

  /** CTE body (no WITH prefix): `t` raw arrays, `m` per-doc integer
    * metrics — everything the rule predicates read. */
  private lazy val SqlGopherBody = {
    val stopList = QualityRules.MustHaveStopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""t AS (SELECT doc_id AS id, text, $SqlToks AS tk,
       |             string_split(text, chr(10)) AS ln FROM documents),
       |m AS (SELECT id,
       |  CAST(len(tk) AS BIGINT) AS n_words,
       |  CAST(len(ln) AS BIGINT) AS n_lines,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(tk, x -> CAST(length(x) AS BIGINT))),
       |    (acc, x) -> acc + x) AS total_chars,
       |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
       |  CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
       |  CAST(len(list_filter(ln, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS n_bul,
       |  CAST(len(list_filter(ln, l -> regexp_matches(l, '\\.\\.\\.$$'))) AS BIGINT) AS n_ee,
       |  CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
       |  CAST(len(list_intersect(list_distinct(list_transform(tk, x -> lower(x))),
       |    $stopList)) AS BIGINT) AS n_stop
       |  FROM t)""".stripMargin
  }

  private lazy val gopherSql =
    s"""WITH $SqlGopherBody
       |SELECT id, n_words,
       |${SqlGopherConds.map { case (n, c) => s"  $c AS $n," }.mkString("\n")}
       |  $SqlGopherKeepExpr AS keep
       |FROM m ORDER BY id""".stripMargin

  // ---------------------------------------------------------- Q-classify
  // Learned filter (Classify): binary Naive Bayes trained on a boolean
  // doc label — here lang='en' (balanced on this corpus and genuinely
  // token-learnable: the LEARNED twin of q_langid's fixed-stopword
  // heuristic, which is exactly how a pipeline upgrades rule-based
  // language/quality filters to trained ones) — train on doc_id % 5 ≠ 0,
  // score the held-out doc_id % 5 = 0 fold. GATE form is the
  // integer-vote path: every decision is an exact BIGINT
  // cross-multiplication, so the oracle retrains the whole model from
  // the raw corpus and replays every vote bit-for-bit. The ln log-odds
  // twin (Classify.logScore) is the deployable scorer, spec-pinned.
  def classifyQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val labeled = docs.select(col("doc_id"), col("text"),
      (col("lang") === "en").as("y"))
    val train = labeled.filter(col("doc_id") % 5 =!= 0)
    val testFold = labeled.filter(col("doc_id") % 5 === 0)
    val (model, tot) = Classify.trainNaiveBayes(train,
      tokens(col("text")), col("y"))
    Classify.voteScore(testFold, "doc_id", tokens(col("text")), model, tot)
      .join(testFold.select(col("doc_id").as("id"), col("y").as("actual")), Seq("id"))
      .select(col("id").as("doc_id"), col("pos_votes"), col("neg_votes"),
        col("pred"), col("actual"))
      .orderBy("doc_id")
  }

  private lazy val classifySql =
    s"""WITH lab AS (SELECT doc_id AS id, lang = 'en' AS y FROM documents),
       |dt AS (SELECT doc_id AS id, unnest(list_distinct($SqlToks)) AS tok
       |       FROM documents),
       |tr AS (SELECT dt.id, dt.tok, lab.y FROM dt JOIN lab USING (id)
       |       WHERE dt.id % 5 != 0),
       |model AS (SELECT tok,
       |            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
       |            CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_neg
       |          FROM tr GROUP BY tok),
       |tot AS (SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
       |               CAST(sum(c_neg) AS BIGINT) AS n_neg,
       |               CAST(count(*) AS BIGINT) AS v
       |        FROM model),
       |te AS (SELECT id, tok FROM dt WHERE id % 5 = 0),
       |votes AS (SELECT te.id,
       |            CASE WHEN (c_pos + 1) * (n_neg + v) > (c_neg + 1) * (n_pos + v) THEN 1
       |                 WHEN (c_pos + 1) * (n_neg + v) < (c_neg + 1) * (n_pos + v) THEN -1
       |                 ELSE 0 END AS vote
       |          FROM te JOIN model USING (tok), tot),
       |agg AS (SELECT id,
       |          CAST(sum(CASE WHEN vote = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos_votes,
       |          CAST(sum(CASE WHEN vote = -1 THEN 1 ELSE 0 END) AS BIGINT) AS neg_votes
       |        FROM votes GROUP BY id)
       |SELECT lab.id AS doc_id,
       |       coalesce(agg.pos_votes, 0) AS pos_votes,
       |       coalesce(agg.neg_votes, 0) AS neg_votes,
       |       coalesce(agg.pos_votes, 0) >= coalesce(agg.neg_votes, 0) AS pred,
       |       lab.y AS actual
       |FROM lab LEFT JOIN agg ON lab.id = agg.id
       |WHERE lab.id % 5 = 0 ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- Q-quality
  // Quality scoring: length / punctuation / stopword ratios.
  private val StopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def quality(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(col("text"))
    val nChars = length(col("text")).cast("long")
    val nTokens = size(tk).cast("long")
    val nPunct = size(regexp_extract_all(lower(col("text")),
      lit("[^a-z0-9\\s]"), lit(0))).cast("long")
    val nStop = size(filter(tk,
      t => array_contains(typedLit(StopEn), t))).cast("long")
    val sumLen = aggregate(tk, lit(0L), (acc, t) => acc + length(t).cast("long"))
    // spread: the per-token ratio expressions are scan-stage compute,
    // 1-task on a single-split file otherwise (r17)
    graft.core.Tables.spread(load(s, dir, "documents")).select(
        col("doc_id"), nChars.as("n_chars"), nTokens.as("n_tokens"),
        when(nChars === 0, lit(null)).otherwise(
          round(nPunct.cast("double") / nChars.cast("double"), 4)).as("punct_ratio"),
        when(nTokens === 0, lit(null)).otherwise(
          round(nStop.cast("double") / nTokens.cast("double"), 4)).as("stop_ratio"),
        when(nTokens === 0, lit(null)).otherwise(
          round(sumLen.cast("double") / nTokens.cast("double"), 4)).as("mean_tok_len"))
      .orderBy("doc_id")
  }

  private val qualitySql = {
    val stopList = StopEn.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
       |  CAST(len($SqlToks) AS BIGINT) AS n_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS BIGINT) AS n_punct,
       |  CAST(len(list_filter($SqlToks, t -> list_contains($stopList, t))) AS BIGINT) AS n_stop,
       |  CAST(list_aggregate(list_prepend(CAST(0 AS BIGINT),
       |    list_transform($SqlToks, t -> CAST(len(t) AS BIGINT))), 'sum') AS BIGINT) AS sum_len
       |FROM documents)
       |SELECT doc_id, n_chars, n_tokens,
       |  CASE WHEN n_chars = 0 THEN NULL
       |       ELSE round(CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE), 4) END AS punct_ratio,
       |  CASE WHEN n_tokens = 0 THEN NULL
       |       ELSE round(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) END AS stop_ratio,
       |  CASE WHEN n_tokens = 0 THEN NULL
       |       ELSE round(CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) END AS mean_tok_len
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ Q-langid
  // n-gram-heuristic language ID: stopword-hit scores + argmax.
  private val LangStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"))

  def langId(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(lower(col("text")))
    val scored = load(s, dir, "documents").select(
      col("doc_id") +: LangStops.map { case (lang, words) =>
        size(filter(tk, t => array_contains(typedLit(words), t)))
          .cast("long").as(s"score_$lang")
      }: _*)
    scored.withColumn("lang_pred",
        when(col("score_en") >= col("score_de") && col("score_en") >= col("score_fr"), "en")
          .when(col("score_de") >= col("score_fr"), "de")
          .otherwise("fr"))
      .orderBy("doc_id")
  }

  private val langIdSql = {
    val scoreExprs = LangStops.map { case (lang, words) =>
      val l = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(tk, t -> list_contains($l, t))) AS BIGINT) AS score_$lang"
    }.mkString(",\n  ")
    s"""WITH t AS (SELECT doc_id,
       |  list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> len(t) > 0) AS tk
       |FROM documents)
       |SELECT doc_id, score_en, score_de, score_fr,
       |  CASE WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
       |       WHEN score_de >= score_fr THEN 'de' ELSE 'fr' END AS lang_pred
       |FROM (SELECT doc_id, $scoreExprs FROM t)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- Q-langid2
  // Learned language ID (Classify.trainHashedVotes): hashed char-
  // trigram multi-class Naive Bayes in the fastText shape — the
  // upgrade path from q_langid's fixed-stopword heuristic (3 European
  // languages by function words) to a trained 5-class model that also
  // separates non-Latin scripts. The synthetic documents table's lang
  // labels are INDEPENDENT of its text (measured: a trained classifier
  // tops out at the prior, q_classify's 0.42 held-out), so the model
  // trains and evaluates on a SEEDED MULTILINGUAL FIXTURE — 20
  // everyday sentences per language, authored for this corpus — with
  // rows fid % 5 = 0 held out. The gate scores the held-out rows.
  // Each of the 2048 hash buckets collapses at train time to its
  // argmax class by exact cross-multiplied smoothed likelihood, so the
  // model is an int array and the ORACLE retrains it from scratch in
  // SQL (from the same VALUES fixture) and replays every vote
  // bit-for-bit. Held-out accuracy vs the stopword heuristic is
  // tabled in BASELINE.md (Round-11).
  private val Lid2Langs = Seq("de", "en", "es", "fr", "zh")
  private val Lid2B = 2048

  private lazy val Lid2Fixture: Seq[(Long, String, String)] = {
    val de = Seq(
      "Der Zug kommt heute wieder zu spät am Bahnhof an.",
      "Ich möchte morgen früh frische Brötchen beim Bäcker kaufen.",
      "Das Wetter wird am Wochenende sonnig und warm.",
      "Wir haben gestern einen langen Spaziergang im Wald gemacht.",
      "Können Sie mir bitte sagen, wie ich zum Rathaus komme?",
      "Die Kinder spielen nachmittags gern im Garten hinter dem Haus.",
      "Mein Bruder arbeitet seit drei Jahren in einer kleinen Werkstatt.",
      "Am Abend lesen wir oft Bücher oder hören Musik.",
      "Die Straßenbahn fährt alle zehn Minuten in die Innenstadt.",
      "Im Winter schneit es hier ziemlich häufig und stark.",
      "Sie hat ihre Schlüssel schon wieder zu Hause vergessen.",
      "Das Essen in diesem Gasthaus schmeckt wirklich ausgezeichnet.",
      "Wir treffen uns um halb acht vor dem Kino.",
      "Der Lehrer erklärt die Aufgabe noch einmal ganz langsam.",
      "Ohne Fahrkarte darf man nicht mit dem Bus fahren.",
      "Die Katze schläft den ganzen Tag auf dem Sofa.",
      "Nächste Woche beginnen endlich die großen Sommerferien.",
      "Er trinkt jeden Morgen eine Tasse schwarzen Kaffee.",
      "Bitte schließen Sie das Fenster, es zieht furchtbar.",
      "Unsere Nachbarn haben sich ein neues Auto gekauft.")
    val en = Seq(
      "The train arrived at the station a few minutes late this morning.",
      "She enjoys reading long novels during the quiet winter evenings.",
      "Could you please tell me the way to the nearest post office?",
      "The children were playing football in the park after school.",
      "We usually have dinner together around seven in the evening.",
      "My brother has been working at the same company for ten years.",
      "The weather forecast says it will rain heavily tomorrow afternoon.",
      "I forgot my umbrella at home again this morning.",
      "They are planning a long holiday by the seaside next summer.",
      "The old library near the market square closes early on Fridays.",
      "He drinks a cup of strong black coffee every morning.",
      "Please close the window, it is getting quite cold in here.",
      "Our neighbours have just bought a brand new car.",
      "The teacher explained the difficult lesson once more very slowly.",
      "You are not allowed to ride the bus without a ticket.",
      "The cat sleeps on the sofa for most of the day.",
      "The summer holidays finally begin at the end of next week.",
      "We met in front of the cinema at half past seven.",
      "The food at this little restaurant tastes really wonderful.",
      "I would like to buy some fresh bread from the bakery.")
    val es = Seq(
      "El tren llegó esta mañana con varios minutos de retraso.",
      "A ella le gusta leer novelas largas durante el invierno.",
      "¿Puede decirme por favor dónde está la oficina de correos?",
      "Los niños jugaban al fútbol en el parque después de clase.",
      "Normalmente cenamos juntos a las siete de la tarde.",
      "Mi hermano trabaja en la misma empresa desde hace diez años.",
      "El pronóstico dice que mañana lloverá con mucha fuerza.",
      "Esta mañana he olvidado otra vez el paraguas en casa.",
      "Están planeando unas largas vacaciones junto al mar.",
      "La vieja biblioteca cerca de la plaza cierra temprano los viernes.",
      "Él bebe una taza de café solo todas las mañanas.",
      "Por favor cierra la ventana, hace bastante frío aquí dentro.",
      "Nuestros vecinos acaban de comprar un coche completamente nuevo.",
      "La profesora explicó la lección difícil otra vez muy despacio.",
      "No se puede subir al autobús sin billete.",
      "El gato duerme en el sofá casi todo el día.",
      "Las vacaciones de verano empiezan por fin la próxima semana.",
      "Nos encontramos delante del cine a las siete y media.",
      "La comida de este pequeño restaurante sabe realmente deliciosa.",
      "Me gustaría comprar pan fresco en la panadería.")
    val fr = Seq(
      "Le train est arrivé en retard à la gare ce matin.",
      "Elle aime lire de longs romans pendant les soirées d'hiver.",
      "Pouvez-vous m'indiquer le chemin du bureau de poste le plus proche ?",
      "Les enfants jouaient au football dans le parc après l'école.",
      "Nous dînons généralement ensemble vers sept heures du soir.",
      "Mon frère travaille dans la même entreprise depuis dix ans.",
      "La météo annonce de fortes pluies pour demain après-midi.",
      "J'ai encore oublié mon parapluie à la maison ce matin.",
      "Ils préparent de longues vacances au bord de la mer.",
      "La vieille bibliothèque près de la place ferme tôt le vendredi.",
      "Il boit une tasse de café noir chaque matin.",
      "Fermez la fenêtre s'il vous plaît, il fait froid ici.",
      "Nos voisins viennent d'acheter une voiture toute neuve.",
      "Le professeur a expliqué la leçon difficile encore une fois lentement.",
      "On ne peut pas monter dans le bus sans ticket.",
      "Le chat dort sur le canapé presque toute la journée.",
      "Les grandes vacances commencent enfin à la fin de la semaine.",
      "Nous nous sommes retrouvés devant le cinéma à sept heures et demie.",
      "La cuisine de ce petit restaurant est vraiment délicieuse.",
      "Je voudrais acheter du pain frais à la boulangerie.")
    val zh = Seq(
      "今天早上火车到站的时候又晚点了几分钟。",
      "她喜欢在安静的冬夜里读很长的小说。",
      "请问去最近的邮局应该怎么走?",
      "孩子们放学后在公园里踢足球。",
      "我们通常晚上七点左右一起吃晚饭。",
      "我哥哥在同一家公司工作了十年。",
      "天气预报说明天下午会下大雨。",
      "今天早上我又把雨伞忘在家里了。",
      "他们正在计划明年夏天去海边度假。",
      "市场广场旁边的老图书馆星期五关门很早。",
      "他每天早上喝一杯浓浓的黑咖啡。",
      "请把窗户关上,这里有点冷。",
      "我们的邻居刚刚买了一辆新车。",
      "老师把难懂的课文又慢慢讲了一遍。",
      "没有车票不可以上公共汽车。",
      "猫几乎整天都睡在沙发上。",
      "暑假终于在下个星期开始了。",
      "我们七点半在电影院门口见面。",
      "这家小餐馆的菜味道真的很好。",
      "我想去面包店买一些新鲜的面包。")
    (de.map("de" -> _) ++ en.map("en" -> _) ++ es.map("es" -> _) ++
      fr.map("fr" -> _) ++ zh.map("zh" -> _)).zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }
  }

  def langId2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fix = Lid2Fixture.toDF("fid", "lang", "text")
    // 1+2+3-grams (the fastText multi-n trick): unigrams carry script
    // identity (one CJK character is decisive), bigrams carry
    // accent/digraph patterns, trigrams the finer morphology. Scoring
    // is the fixed-point NB LOG-LIKELIHOOD sum (trainHashedNbWeights)
    // — hard per-bucket votes measured 0.70 (trigrams) / 0.85 (1+2+3)
    // held-out because closely-related languages (fr/es) differ by
    // margins, not winners; the integral log-score keeps the margin
    // and is the tabled config (BASELINE.md Round-11).
    val t = lower(col("text"))
    val grams = concat(charNgrams(t, 1), charNgrams(t, 2), charNgrams(t, 3))
    val weights = Classify.trainHashedNbWeights(
      fix.filter(col("fid") % 5 =!= 0), grams, col("lang"),
      Lid2Langs, Lid2B)
    Classify.hashedNbScores(fix.filter(col("fid") % 5 === 0), "fid",
        grams, weights, Lid2Langs, Lid2B)
      .orderBy("fid")
  }

  private lazy val langId2Sql = {
    val B = Lid2B
    val values = Lid2Fixture.map { case (i, l, t) =>
      s"($i, '$l', '${t.replace("'", "''")}')"
    }.mkString(",\n  ")
    val cntCols = Lid2Langs.map(l =>
      s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS c_$l")
      .mkString(",\n            ")
    val totCols = Lid2Langs.map(l =>
      s"CAST(sum(c_$l) AS BIGINT) AS n_$l").mkString(", ")
    // fixed-point NB weight, replayed integrally: x = max(1,
    // (c+1)·2²⁰ ÷ (n+B)) by integer division, weight = floor(log2(x³))
    // via the BIT LENGTH of x³ — no floating log anywhere
    def xCols(cOf: String => String) = Lid2Langs.map(l =>
      s"greatest((${cOf(l)} + 1) * 1048576 // (n_$l + $B), 1) AS x_$l")
      .mkString(",\n           ")
    val wCols = Lid2Langs.map(l =>
      s"CAST(length(bin(x_$l * x_$l * x_$l)) - 1 AS BIGINT) AS w_$l")
      .mkString(",\n           ")
    val dCols = Lid2Langs.map(l =>
      s"CAST(length(bin(x_$l * x_$l * x_$l)) - 1 AS BIGINT) AS d_$l")
      .mkString(",\n           ")
    val scoreCols = Lid2Langs.map(l =>
      s"CAST(sum(coalesce(w_$l, (SELECT d_$l FROM defs))) AS BIGINT) AS score_$l")
      .mkString(",\n          ")
    val pred = Lid2Langs.init.zipWithIndex.map { case (c, i) =>
      val conds = Lid2Langs.drop(i + 1)
        .map(o => s"score_$c >= score_$o")
        .mkString(" AND ")
      s"WHEN $conds THEN '$c'"
    }.mkString("CASE ", "\n            ", s" ELSE '${Lid2Langs.last}' END")
    def sqlGrams(n: Int) =
      s"""CASE WHEN length(lower(text)) < $n THEN [lower(text)]
         |         ELSE list_transform(
         |           generate_series(1, length(lower(text)) - ${n - 1}),
         |           i -> substr(lower(text), CAST(i AS INT), $n)) END""".stripMargin
    s"""WITH fx(fid, lang, text) AS (VALUES
       |  $values),
       |g AS (
       |  SELECT fid, lang, unnest(${sqlGrams(1)}) AS gr FROM fx
       |  UNION ALL
       |  SELECT fid, lang, unnest(${sqlGrams(2)}) AS gr FROM fx
       |  UNION ALL
       |  SELECT fid, lang, unnest(${sqlGrams(3)}) AS gr FROM fx),
       |bk AS (SELECT fid, lang, ${sqlSh32("gr")} % $B AS b FROM g),
       |cnt AS (SELECT b,
       |            $cntCols
       |        FROM bk WHERE fid % 5 != 0 GROUP BY b),
       |tot AS (SELECT $totCols FROM cnt),
       |xb AS (SELECT b,
       |           ${xCols(l => s"c_$l")}
       |       FROM cnt, tot),
       |wb AS (SELECT b,
       |           $wCols
       |       FROM xb),
       |xd AS (SELECT
       |           ${xCols(_ => "0")}
       |       FROM tot),
       |defs AS (SELECT
       |           $dCols
       |         FROM xd),
       |v AS (SELECT bk.fid, ${Lid2Langs.map(l => s"wb.w_$l").mkString(", ")}
       |      FROM bk LEFT JOIN wb USING (b)
       |      WHERE bk.fid % 5 = 0),
       |agg AS (SELECT fid,
       |          $scoreCols
       |        FROM v GROUP BY fid)
       |SELECT fid, ${Lid2Langs.map(l => s"score_$l").mkString(", ")},
       |       $pred AS lang_pred
       |FROM agg
       |ORDER BY fid""".stripMargin
  }

  // ------------------------------------------------------- Q-fingerprint
  // Rolling polynomial hash over token hashes (document fingerprint).
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(col("text"))
    val fp = aggregate(tk, lit(0L),
      (acc, t) => pmod(acc * 31L + shaHash32(t), lit(P)))
    load(s, dir, "documents")
      .select(col("doc_id"), fp.as("fp"))
      .orderBy("doc_id")
  }

  private val fingerprintSql =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform($SqlToks, t -> ${sqlSh32("t")})),
       |    (acc, h) -> (acc * 31 + h) % $P) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- Q-repetition
  // Repetition quality signals (the Gopher-rule family a pretraining
  // curation pass runs alongside length/punct gates): duplicate-token
  // ratio, top-token fraction, top-bigram fraction, and the resulting
  // repetitive flag. Shape: explode → two-level partial-aggregating
  // groupBy keyed by doc_id — distributed, codegen'd, no per-element
  // lambda in the hot path (HOF folds measured ~20x slower here).
  private val RepTopTok = 0.2
  private val RepTopBigram = 0.18

  def repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val tokStats = docs.select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy("doc_id", "tok").count()
      .groupBy("doc_id").agg(
        sum("count").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_distinct"),
        max("count").cast("long").as("top_tok"))
    val bgStats = docs.filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(wordNgrams(col("tk"), 2)).as("bg"))
      .groupBy("doc_id", "bg").count()
      .groupBy("doc_id").agg(
        max("count").cast("long").as("top_bg"),
        sum("count").cast("long").as("n_bg"))
    val dupRatio = round(lit(1.0) -
      col("n_distinct").cast("double") / col("n_tokens").cast("double"), 4)
    val topTokRatio =
      round(col("top_tok").cast("double") / col("n_tokens").cast("double"), 4)
    val topBgRatio =
      round(col("top_bg").cast("double") / col("n_bg").cast("double"), 4)
    tokStats.join(bgStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        dupRatio.as("dup_tok_ratio"),
        topTokRatio.as("top_tok_ratio"),
        topBgRatio.as("top_bigram_ratio"),
        (topTokRatio > RepTopTok ||
          coalesce(topBgRatio > RepTopBigram, lit(false))).as("repetitive"))
      .orderBy("doc_id")
  }

  private val repetitionSql =
    s"""WITH t AS (SELECT doc_id, $SqlToks AS tk FROM documents),
       |tc AS (SELECT doc_id, tok, count(*) AS c
       |       FROM (SELECT doc_id, unnest(tk) AS tok FROM t) GROUP BY 1, 2),
       |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |              CAST(count(*) AS BIGINT) AS n_distinct,
       |              CAST(max(c) AS BIGINT) AS top_tok FROM tc GROUP BY 1),
       |bc AS (SELECT doc_id, b, count(*) AS c
       |       FROM (SELECT doc_id,
       |               unnest(list_transform(generate_series(1, len(tk) - 1),
       |                 i -> tk[i] || ' ' || tk[i + 1])) AS b
       |             FROM t WHERE len(tk) >= 2) GROUP BY 1, 2),
       |bs AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bg,
       |              CAST(sum(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1)
       |SELECT ts.doc_id,
       |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS dup_tok_ratio,
       |  round(CAST(top_tok AS DOUBLE) / n_tokens, 4) AS top_tok_ratio,
       |  round(CAST(top_bg AS DOUBLE) / n_bg, 4) AS top_bigram_ratio,
       |  (round(CAST(top_tok AS DOUBLE) / n_tokens, 4) > $RepTopTok OR
       |   coalesce(round(CAST(top_bg AS DOUBLE) / n_bg, 4) > $RepTopBigram, false)) AS repetitive
       |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
       |ORDER BY ts.doc_id""".stripMargin

  // ------------------------------------------------------------- Q-sample
  // Deterministic stratified sampling — the mixture-weight step of a
  // training-data pipeline. Inclusion is decided by a salted sha-derived
  // hash of the id, NOT rand(): the same doc lands in the same split on
  // every run, any cluster size, and in the oracle. Per-language rates
  // play the sampleBy role as a pure expression.
  private val SampleSalt = "graft-split-1"
  private val SampleRates: Seq[(String, Int)] = Seq("en" -> 50, "de" -> 20)
  private val SampleDefaultRate = 10 // percent

  def sampleQ(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(shaHash32(
      concat(lit(SampleSalt), col("doc_id").cast("string"))), lit(100))
    val rate = SampleRates.foldLeft(lit(SampleDefaultRate)) {
      case (acc, (lang, r)) => when(col("lang") === lang, r).otherwise(acc)
    }
    load(s, dir, "documents")
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  private val sampleSql = {
    val rate = SampleRates.reverse.foldLeft(s"$SampleDefaultRate") {
      case (acc, (lang, r)) => s"CASE WHEN lang = '$lang' THEN $r ELSE $acc END"
    }
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${sqlSh32(s"concat('$SampleSalt', CAST(doc_id AS VARCHAR))")} % 100 < ($rate)
       |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------- Q-shard
  // Deterministic global shuffle + fixed shard layout (Shards
  // .shardShuffle) — the pipeline's LAST stage: reproducible
  // pseudo-random training order, chunked for data-loader workers. The
  // permutation is the Knuth multiplicative rank (not an RNG), shard =
  // rank mod nShards (uniform, skew-free by construction), pos = dense
  // in-shard rank — all plain integer arithmetic, replayed verbatim by
  // the oracle. One exchange + per-shard sort at any scale;
  // writeSharded materializes shard=<k>/ dirs for direct mounting.
  private val ShardCount = 16

  def shardQ(s: SparkSession, dir: String): DataFrame =
    Shards.shardShuffle(load(s, dir, "documents"), "doc_id", ShardCount)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")

  private val shardSql =
    s"""WITH r AS (SELECT doc_id,
       |             (doc_id * 2654435761) % 4294967296 AS rk
       |           FROM documents)
       |SELECT doc_id, CAST(rk % $ShardCount AS INTEGER) AS shard,
       |       CAST(row_number() OVER (PARTITION BY rk % $ShardCount
       |         ORDER BY rk, doc_id) - 1 AS BIGINT) AS pos
       |FROM r ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- Q-range
  // Binned interval-containment join (Joins.rangeJoinBinned): every 101st
  // event seeds a 2-hour window; count the events falling inside each.
  // The engine side is a pure equi-join on 1-hour bins (each window
  // explodes to 2-3 bin rows, each point keeps its one bin) + exact
  // containment filter — NO inequality join, so PlanAuditSpec's
  // no-BNLJ/no-cartesian sweep covers it like any other row. The oracle
  // answers the same question with DuckDB's native inequality join
  // (IEJoin): two unrelated plans, one truth.
  private val RangeWindowUs = 7200000000L // 2 h in micros
  private val RangeBinUs = 3600000000L    // 1 h bins

  def rangeQ(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("t"))
    val windows = ev.filter(col("event_id") % 101 === 0)
      .select(col("event_id").as("window_id"), col("t").as("ws"),
        (col("t") + RangeWindowUs).as("we"))
    Joins.rangeJoinBinned(ev.select(col("t")), windows,
        "t", "ws", "we", binWidth = RangeBinUs)
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("window_id")
  }

  private val rangeSql =
    s"""WITH pts AS (SELECT epoch_us(ts) AS t FROM events),
       |win AS (SELECT event_id AS window_id, epoch_us(ts) AS ws,
       |               epoch_us(ts) + $RangeWindowUs AS we
       |        FROM events WHERE event_id % 101 = 0)
       |SELECT window_id, CAST(count(*) AS BIGINT) AS n_events
       |FROM win JOIN pts ON t >= ws AND t < we
       |GROUP BY window_id ORDER BY window_id""".stripMargin

  // ---------------------------------------------------------- Q-quantiles
  // Ordered statistics per group (Stats.exactQuantiles): discrete
  // quantiles by rank arithmetic — value at row_number ceil(p·n) — so any
  // ANSI engine replays them bit-for-bit from the same parquet doubles
  // (no interpolation, no arithmetic on the value). ONE window shuffle;
  // the group agg after it reuses the partitioning. The deployable twin
  // is Stats.approxQuantiles (approx_percentile sketch, single pass, no
  // per-group sort); StatsSpec pins it to this exact operator within the
  // sketch's rank-error bound — same gate-config/deploy-config split as
  // simhash32/64.
  private val QuantilePs = Seq(0.5, 0.9, 0.99)

  def quantilesQ(s: SparkSession, dir: String): DataFrame =
    Stats.exactQuantiles(
        load(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            col("l_extendedprice").as("price")),
        "flag", "price", QuantilePs)
      .orderBy("flag")

  private val quantilesSql =
    """WITH ranked AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS price,
      |         row_number() OVER (PARTITION BY l_returnflag
      |           ORDER BY l_extendedprice) AS rn,
      |         count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem
      |  WHERE l_extendedprice IS NOT NULL)
      |SELECT flag,
      |       max(CASE WHEN rn = ceil(n * 0.5) THEN price END) AS p50,
      |       max(CASE WHEN rn = ceil(n * 0.9) THEN price END) AS p90,
      |       max(CASE WHEN rn = ceil(n * 0.99) THEN price END) AS p99
      |FROM ranked GROUP BY flag ORDER BY flag""".stripMargin

  // ---------------------------------------------------------------- Q-bin
  // Quantile bucketizer (the ML-preprocessing Bucketizer/QuantileDiscretizer
  // shape, composed from existing pieces): per-group EXACT quartile
  // boundaries (Stats.exactQuantiles — one window exchange) broadcast
  // back onto the scan, bucket id = count of boundaries strictly below
  // the value, then per-(group, bucket) count + exact cents sum. A
  // boundary tie lands in the LOWER bucket (strict >), which both
  // engines state identically. At 100 TB the boundaries side is
  // |groups|·|ps| rows — always broadcastable — and the deployable
  // variant swaps in approxQuantiles (already gated) without touching
  // the bucket arithmetic.
  def binQ(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("price"))
      // exactQuantiles drops null prices from the boundary ranking; state
      // the same population for the bucketing pass, or null rows would
      // land in bucket 0 here while the oracle's ranked CTE excludes them.
      .filter(col("price").isNotNull)
    val bounds = Stats.exactQuantiles(li, "flag", "price",
      Seq(0.25, 0.5, 0.75))
    li.join(broadcast(bounds), "flag")
      .withColumn("bucket",
        when(col("price") > col("p25"), 1).otherwise(0) +
          when(col("price") > col("p50"), 1).otherwise(0) +
          when(col("price") > col("p75"), 1).otherwise(0))
      .groupBy("flag", "bucket")
      .agg(count(lit(1)).as("n"),
        ExactAgg.moneySum(col("price"), 100).as("sum_price"))
      .orderBy("flag", "bucket")
  }

  private val binSql =
    s"""WITH ranked AS (
       |  SELECT l_returnflag AS flag, l_extendedprice AS price,
       |         row_number() OVER (PARTITION BY l_returnflag
       |           ORDER BY l_extendedprice) AS rn,
       |         count(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM lineitem
       |  WHERE l_extendedprice IS NOT NULL),
       |b AS (SELECT flag,
       |        max(CASE WHEN rn = ceil(n * 0.25) THEN price END) AS p25,
       |        max(CASE WHEN rn = ceil(n * 0.5) THEN price END) AS p50,
       |        max(CASE WHEN rn = ceil(n * 0.75) THEN price END) AS p75
       |      FROM ranked GROUP BY flag)
       |SELECT r.flag,
       |       (CASE WHEN price > p25 THEN 1 ELSE 0 END +
       |        CASE WHEN price > p50 THEN 1 ELSE 0 END +
       |        CASE WHEN price > p75 THEN 1 ELSE 0 END) AS bucket,
       |       CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("price")} AS sum_price
       |FROM ranked r JOIN b ON r.flag = b.flag
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------- Q-histogram
  // Fixed-width price histogram per return flag (Stats.histogram): one
  // partial-aggregated groupBy over scan-stage IEEE arithmetic — both
  // engines compute floor((price - lo)/width) bit-for-bit. Underflow/
  // overflow edge bins are part of the contract (unused on this data;
  // StatsSpec exercises them).
  private val HistLo = 0.0
  private val HistWidth = 5000.0
  private val HistBins = 25

  def histogramQ(s: SparkSession, dir: String): DataFrame =
    Stats.histogram(
        load(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            col("l_extendedprice").as("price")),
        "flag", "price", HistLo, HistWidth, HistBins)
      .orderBy("flag", "bin")

  private val histogramSql =
    s"""SELECT l_returnflag AS flag,
       |       CASE WHEN l_extendedprice < $HistLo THEN -1
       |            WHEN l_extendedprice >= $HistLo + $HistBins * $HistWidth
       |              THEN $HistBins
       |            ELSE CAST(floor((CAST(l_extendedprice AS DOUBLE) - $HistLo)
       |                             / $HistWidth) AS BIGINT) END AS bin,
       |       CAST(count(*) AS BIGINT) AS n
       |FROM lineitem WHERE l_extendedprice IS NOT NULL
       |GROUP BY 1, 2 ORDER BY flag, bin""".stripMargin

  // --------------------------------------------------------------- Q-cms
  // Count-min sketch point queries (Sketches.cmsBuild/cmsEstimate): the
  // bounded-memory frequency summary — depth×width counters, estimate =
  // min over hash rows, never an underestimate. The probes are the ten
  // most frequent tokens ((count DESC, tok) — deterministic), carried
  // next to their EXACT counts so the gate verifies both the cell
  // arithmetic and the min-fold against an independent full histogram.
  // Scale shape: the build shuffle is bounded by the sketch size
  // (map-side combine to ≤ depth·width rows per partition), the probe
  // join broadcasts the sketch. Hashes are sha256-derived, so DuckDB
  // replays every cell assignment bit-for-bit.
  private val CmsDepth = 4
  private val CmsWidth = 1024

  def cmsQ(s: SparkSession, dir: String): DataFrame = {
    val tok = load(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
    val exact = tok.groupBy("tok").agg(count(lit(1)).as("n_exact"))
    val probes = exact.orderBy(col("n_exact").desc, col("tok")).limit(10)
    val sk = Sketches.cmsBuild(tok, "tok", CmsDepth, CmsWidth)
    Sketches.cmsEstimate(probes, "tok", sk, CmsDepth, CmsWidth)
      .join(broadcast(probes), "tok")
      .select(col("tok"), col("est"), col("n_exact"))
      .orderBy(col("n_exact").desc, col("tok"))
  }

  private val cmsSql = {
    def cell(v: String) =
      s"${sqlSh32(s"concat(j, ':', $v)")} % $CmsWidth"
    s"""WITH tok AS (SELECT unnest($SqlToks) AS tok FROM documents),
       |ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
       |       FROM tok GROUP BY tok),
       |probes AS (SELECT tok, n_exact FROM ex
       |           ORDER BY n_exact DESC, tok LIMIT 10),
       |cells AS (SELECT t.tok, j, ${cell("t.tok")} AS cell
       |          FROM tok t, generate_series(0, ${CmsDepth - 1}) AS g(j)),
       |sk AS (SELECT j, cell, CAST(count(*) AS BIGINT) AS n
       |       FROM cells GROUP BY j, cell),
       |pc AS (SELECT p.tok, p.n_exact, g.j, ${cell("p.tok")} AS cell
       |       FROM probes p, generate_series(0, ${CmsDepth - 1}) AS g(j))
       |SELECT pc.tok, min(coalesce(sk.n, 0)) AS est, pc.n_exact
       |FROM pc LEFT JOIN sk ON pc.j = sk.j AND pc.cell = sk.cell
       |GROUP BY pc.tok, pc.n_exact
       |ORDER BY pc.n_exact DESC, pc.tok""".stripMargin
  }

  // ------------------------------------------------------------- Q-bloom
  // Bloom-filter membership (Sketches.bloomBuild/bloomMightContain): the
  // bounded-memory seen-set summary — k sha-derived bits per value in an
  // m-bit space, probe true iff all k bits set. Build side = distinct
  // src0 tokens; probes = the full corpus vocabulary plus five invented
  // absent keys, each carried next to its EXACT membership so the gate
  // pins the no-false-negative property row by row and hash-pins
  // whatever false positives the (deliberately tight) 256-bit space
  // admits. Scale shape: the build shuffle is bounded by the BITMAP
  // (map-side combine to ≤ ⌈m/63⌉ word rows per partition), the probe
  // join broadcasts the bitmap — corpus size never reaches an exchange.
  // For seen-sets too big to broadcast as a bitmap, q_contam's
  // partitioned shingle semi-join is the companion shape.
  private val BloomBits = 256
  private val BloomK = 3

  def bloomQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val seen = docs.filter(col("source") === "src0")
      .select(explode(tokens(col("text"))).as("tok")).distinct()
    val bloom = Sketches.bloomBuild(seen, "tok", BloomBits, BloomK)
    val vocab = docs.select(explode(tokens(col("text"))).as("tok")).distinct()
    val absent = s.range(1, 6)
      .select(concat(lit("zzq"), col("id").cast("string")).as("tok"))
    val probes = vocab.unionByName(absent)
    Sketches.bloomMightContain(probes, "tok", bloom, BloomBits, BloomK)
      .join(broadcast(seen.withColumn("__seen", lit(true))), Seq("tok"), "left")
      .select(col("tok"), col("might_contain"),
        coalesce(col("__seen"), lit(false)).as("in_set"))
      .orderBy("tok")
  }

  private val bloomSql = {
    def pos(v: String) =
      s"${sqlSh32(s"concat('bloom:', j, ':', $v)")} % $BloomBits"
    s"""WITH seen AS (SELECT DISTINCT unnest($SqlToks) AS tok
       |              FROM documents WHERE source = 'src0'),
       |bpos AS (SELECT tok, ${pos("tok")} AS p
       |         FROM seen, generate_series(0, ${BloomK - 1}) AS g(j)),
       |bloom AS (SELECT p // 63 AS word,
       |                 bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
       |          FROM bpos GROUP BY 1),
       |vocab AS (SELECT DISTINCT unnest($SqlToks) AS tok FROM documents),
       |probes AS (SELECT tok FROM vocab
       |           UNION ALL
       |           SELECT 'zzq' || CAST(i AS VARCHAR)
       |           FROM generate_series(1, 5) AS s(i)),
       |pp AS (SELECT tok, ${pos("tok")} AS p
       |       FROM probes, generate_series(0, ${BloomK - 1}) AS g(j)),
       |hit AS (SELECT pp.tok,
       |          min(CASE WHEN coalesce(b.bits, 0) &
       |                (CAST(1 AS BIGINT) << CAST(pp.p % 63 AS INT)) <> 0
       |              THEN 1 ELSE 0 END) AS h
       |        FROM pp LEFT JOIN bloom b ON pp.p // 63 = b.word
       |        GROUP BY pp.tok)
       |SELECT hit.tok, hit.h = 1 AS might_contain,
       |       seen.tok IS NOT NULL AS in_set
       |FROM hit LEFT JOIN seen ON hit.tok = seen.tok
       |ORDER BY hit.tok""".stripMargin
  }

  // --------------------------------------------------------- Q-hashembed
  // Feature-hashing text embedding (Featurize.hashEmbed): signed hashed
  // token counts into a fixed dim — the model-free bootstrap vector for
  // ANN / near-dup / clustering over a corpus with no model embeddings
  // yet. Integer components end-to-end (no float accumulation hazard);
  // bucket and sign come from independent sha256-derived hashes, so the
  // oracle rebuilds every vector bit-for-bit from the raw text. The
  // vector rides the gate as a comma-joined string (array columns
  // compare unreliably across engines — same convention as q_invindex's
  // postings); sqnorm pins the arithmetic fold.
  private val HashEmbedDim = 16

  def hashEmbedQ(s: SparkSession, dir: String): DataFrame =
    Featurize.hashEmbed(load(s, dir, "documents"), "doc_id",
        tokens(col("text")), HashEmbedDim)
      .select(col("id").as("doc_id"),
        array_join(transform(col("vec"), _.cast("string")), ",").as("vec"),
        col("sqnorm"))
      .orderBy("doc_id")

  private val hashEmbedSql =
    s"""WITH tok AS (SELECT doc_id AS id, unnest($SqlToks) AS tok FROM documents),
       |c AS (SELECT id, ${sqlSh32("concat('e:', tok)")} % $HashEmbedDim AS d,
       |        CASE WHEN ${sqlSh32("concat('s:', tok)")} % 2 = 0
       |             THEN 1 ELSE -1 END AS sgn
       |      FROM tok),
       |dims AS (SELECT id, d, CAST(sum(sgn) AS BIGINT) AS v
       |         FROM c GROUP BY id, d),
       |grid AS (SELECT doc_id AS id, i
       |         FROM documents, generate_series(0, ${HashEmbedDim - 1}) AS g(i)),
       |fullg AS (SELECT grid.id, grid.i, coalesce(dims.v, 0) AS v
       |          FROM grid LEFT JOIN dims
       |            ON grid.id = dims.id AND grid.i = dims.d),
       |vecs AS (SELECT id, list(v ORDER BY i) AS vec FROM fullg GROUP BY id)
       |SELECT id AS doc_id, array_to_string(vec, ',') AS vec,
       |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |              list_transform(vec, x -> x * x)),
       |            (a, x) -> a + x) AS BIGINT) AS sqnorm
       |FROM vecs ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- Q-groupsample
  // Per-source deterministic k-sample (Stats.groupSample): the "cap every
  // source at k docs" corpus-mixing step, reproducible by portable hash
  // rank — the oracle replays the same Knuth-multiplicative rank in plain
  // integer arithmetic.
  private val GroupSampleK = 10

  def groupSampleQ(s: SparkSession, dir: String): DataFrame =
    Stats.groupSample(
        load(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", GroupSampleK)
      .orderBy("source", "doc_id")

  private val groupSampleSql =
    s"""WITH ranked AS (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
       |  FROM documents)
       |SELECT doc_id, source FROM ranked
       |WHERE rn <= $GroupSampleK ORDER BY source, doc_id""".stripMargin

  // ---------------------------------------------------------------- Q-mix
  // Temperature-weighted source mixing (Stats.temperatureMix): draw a
  // fixed doc budget with per-source take ∝ sqrt(n_source) — the
  // α=0.5 sub-linear sampling a multilingual training mixture uses. The
  // oracle replays the integer fixed-point weight/denominator/take math
  // verbatim (sqrt is the one IEEE-exact power, the rest is BIGINT
  // arithmetic) and the same Knuth-rank membership as q_groupsample.
  private val MixBudget = 400L
  private val MixScale = 10000L

  def mixQ(s: SparkSession, dir: String): DataFrame =
    Stats.temperatureMix(
        load(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", MixBudget, MixScale)
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  private val mixSql =
    s"""WITH counts AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * $MixScale) AS BIGINT) AS wi
       |  FROM documents GROUP BY source),
       |tgt AS (
       |  SELECT source,
       |         least(n, ($MixBudget * wi) // CAST((SELECT sum(wi) FROM counts) AS BIGINT)) AS t
       |  FROM counts),
       |ranked AS (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source
       |           ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
       |  FROM documents)
       |SELECT doc_id, source FROM ranked JOIN tgt USING (source)
       |WHERE rn <= t ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- Q-dsir
  // DSIR data selection (Dsir.importanceScore + selectTopK): the raw
  // docs most like the src0 "curated" corpus under hashed-unigram bag
  // models — mean per-position probability ratio, ln-free so every
  // arithmetic step replays bit-exactly (see Dsir's doc for why the
  // paper's log form is the non-gate deployable twin). The oracle
  // rebuilds both histograms from the same sha256-bucketed occurrences
  // and walks the identical bucket-ordered fold.
  private val DsirBuckets = 1024
  private val DsirTopK = 100
  private val DsirTarget = "src0"

  def dsirQ(s: SparkSession, dir: String): DataFrame =
    Dsir.selectTopK(
        Dsir.importanceScore(load(s, dir, "documents"), "doc_id", "text",
          col("source") === DsirTarget, buckets = DsirBuckets),
        DsirTopK)
      .orderBy("id")

  private val dsirSql =
    s"""WITH toks AS (SELECT doc_id AS id, source, $SqlToks AS tk FROM documents),
       |occ AS (SELECT id, source,
       |          ${sqlSh32("tok")} % $DsirBuckets AS b
       |        FROM (SELECT id, source, unnest(tk) AS tok FROM toks)),
       |d AS (SELECT id, b, CAST(count(*) AS BIGINT) AS m FROM occ
       |      WHERE source <> '$DsirTarget' GROUP BY 1, 2),
       |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM occ
       |       WHERE source = '$DsirTarget' GROUP BY 1),
       |rc AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM occ
       |       WHERE source <> '$DsirTarget' GROUP BY 1),
       |nt AS (SELECT CAST(count(*) AS DOUBLE) + $DsirBuckets.0 AS v FROM occ
       |       WHERE source = '$DsirTarget'),
       |nr AS (SELECT CAST(count(*) AS DOUBLE) + $DsirBuckets.0 AS v FROM occ
       |       WHERE source <> '$DsirTarget'),
       |term AS (SELECT d.id, d.b,
       |    d.m * (((CAST(coalesce(tc.ct, 0) AS DOUBLE) + 1.0) * nr.v) /
       |           ((CAST(rc.cr AS DOUBLE) + 1.0) * nt.v)) AS t,
       |    d.m AS m
       |  FROM d JOIN rc USING (b) LEFT JOIN tc USING (b), nt, nr),
       |sc AS (SELECT id, CAST(sum(m) AS BIGINT) AS n_toks,
       |    round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list(t ORDER BY b)), (acc, x) -> acc + x)
       |      / CAST(sum(m) AS BIGINT), 4) AS iw
       |  FROM term GROUP BY id),
       |sel AS (SELECT * FROM sc ORDER BY iw DESC, id LIMIT $DsirTopK)
       |SELECT id, n_toks, iw FROM sel ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- Q-bpe
  // BPE-style merge training (Bpe.trainMerges): 8 iterations of "merge
  // the most frequent adjacent token pair", over word tokens (phrase
  // mining; same operator as subword BPE). The oracle replays the
  // identical algorithm as an UNROLLED CTE chain — per iteration: split
  // the wrapped string, count adjacent pairs, pick the (cnt desc, a, b)
  // winner, apply it as the same plain-string replace (both engines
  // share left-to-right non-overlapping replace semantics, which IS the
  // BPE merge convention). q_bpe gates the learned merge table;
  // q_bpe_apply gates the re-tokenized corpus (per-doc token counts
  // before/after the 8 merges).
  private val BpeMerges = 8

  private val BpeWrapSql =
    s"CASE WHEN len($SqlToks) > 0 THEN '|' || array_to_string($SqlToks, '||') || '|' ELSE '' END"

  /** CTE chain t0..t<n> (wrapped corpus states) and b1..b<n> (per-step
    * winning merges) replaying Bpe.trainMerges verbatim. The t/b CTEs
    * are MATERIALIZED and b joins into the next state as a 1-row cross
    * join — without this DuckDB inlines each multiply-referenced CTE
    * into its consumers and the chain expands exponentially. */
  private def bpeChainSql(n: Int): String = {
    val sb = new StringBuilder(
      s"t0 AS MATERIALIZED (SELECT doc_id, $BpeWrapSql AS s FROM documents)")
    for (i <- 1 to n) {
      val p = i - 1
      sb ++= s""",
         |l$p AS (SELECT string_split(substr(s, 2, length(s) - 2), '||') AS l
         |        FROM t$p WHERE length(s) > 2),
         |p$p AS (SELECT l[i] AS a, l[i + 1] AS b
         |        FROM (SELECT l, unnest(range(1, len(l))) AS i FROM l$p)),
         |c$p AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt FROM p$p GROUP BY a, b),
         |b$i AS MATERIALIZED (SELECT $i AS step, a, b, cnt FROM c$p
         |        ORDER BY cnt DESC, a, b LIMIT 1),
         |t$i AS MATERIALIZED (SELECT doc_id,
         |  replace(s, '|' || b$i.a || '||' || b$i.b || '|',
         |             '|' || b$i.a || ' ' || b$i.b || '|') AS s
         |        FROM t$p, b$i)""".stripMargin
    }
    sb.toString
  }

  def bpeQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .select(Bpe.wrap(tokens(col("text"))).as("s"))
    s.createDataFrame(Bpe.trainMerges(docs, "s", BpeMerges)).orderBy("step")
  }

  private val bpeSql: String =
    s"""WITH ${bpeChainSql(BpeMerges)}
       |SELECT step, a, b, cnt
       |FROM (${(1 to BpeMerges).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")})
       |ORDER BY step""".stripMargin

  def bpeApplyQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), Bpe.wrap(tokens(col("text"))).as("s"))
    val merges = Bpe.trainMerges(docs.select("s"), "s", BpeMerges)
    docs.select(col("doc_id"),
        size(Bpe.unwrap(col("s"))).cast("long").as("n_before"),
        size(Bpe.unwrap(Bpe.applyMerges(col("s"), merges)))
          .cast("long").as("n_after"))
      .orderBy("doc_id")
  }

  private val bpeApplySql: String = {
    def nToks(t: String) =
      s"""CAST(CASE WHEN length($t.s) > 2
         |  THEN len(string_split(substr($t.s, 2, length($t.s) - 2), '||'))
         |  ELSE 0 END AS BIGINT)""".stripMargin
    s"""WITH ${bpeChainSql(BpeMerges)}
       |SELECT t0.doc_id, ${nToks("t0")} AS n_before, ${nToks("f")} AS n_after
       |FROM t0 JOIN t$BpeMerges f USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------- Q-quota
  // Per-source quality quota — the data-mixing step: keep the top-N docs
  // of each source by quality score. One window over (source), total
  // order inside (score desc, doc_id) so ranks are deterministic.
  private val QuotaPerSource = 100

  def quota(s: SparkSession, dir: String): DataFrame = {
    val score = round(length(col("text")).cast("double") /
      (size(tokens(col("text"))) + 1).cast("double"), 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("__score").desc, col("doc_id"))
    load(s, dir, "documents")
      .select(col("doc_id"), col("source"), score.as("__score"))
      .withColumn("src_rank", row_number().over(w))
      .filter(col("src_rank") <= QuotaPerSource)
      .select(col("doc_id"), col("source"), col("__score").as("score"),
        col("src_rank"))
      .orderBy("source", "src_rank")
  }

  private val quotaSql =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |         round(CAST(len(text) AS DOUBLE) /
       |               (len($SqlToks) + 1), 4) AS score
       |  FROM documents),
       |ranked AS (
       |  SELECT doc_id, source, score,
       |         CAST(row_number() OVER (PARTITION BY source
       |           ORDER BY score DESC, doc_id) AS INTEGER) AS src_rank
       |  FROM scored)
       |SELECT doc_id, source, score, src_rank FROM ranked
       |WHERE src_rank <= $QuotaPerSource ORDER BY source, src_rank""".stripMargin

  // ------------------------------------------------------------- Q-contam
  // Benchmark decontamination: per training doc, the fraction of its
  // 3-gram shingles that also occur in the eval set (here the doc_id %
  // 97 == 0 slice plays the benchmark). Scale shape: the eval shingle
  // set is tiny by construction, so the overlap probe is ONE broadcast
  // semi-style equi-join against it — the training side streams, nothing
  // quadratic, no shuffle of the big side.
  private val ContamThreshold = 0.8

  def contam(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleHashes(load(s, dir, "documents"), "doc_id", "text")
    val isEval = col("id") % 97 === 0
    val evalSh = sh.filter(isEval).select("h").distinct()
    val train = sh.filter(!isEval)
    val sizes = train.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val hits = train.join(broadcast(evalSh), Seq("h"))
      .groupBy("id").agg(count(lit(1)).as("n_hit"))
    val ratio = round(coalesce(col("n_hit"), lit(0L)).cast("double") /
      col("n_sh").cast("double"), 4)
    sizes.join(hits, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"), ratio.as("overlap"),
        (ratio >= ContamThreshold).as("contaminated"))
      .orderBy("doc_id")
  }

  private val contamSql =
    s"""WITH $SqlShBody,
       |ev AS (SELECT DISTINCT h FROM sh WHERE id % 97 = 0),
       |train AS (SELECT id, h FROM sh WHERE id % 97 <> 0),
       |sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n_sh FROM train GROUP BY id),
       |hits AS (SELECT id, CAST(count(*) AS BIGINT) AS n_hit
       |         FROM train JOIN ev USING (h) GROUP BY id)
       |SELECT sizes.id AS doc_id, n_sh,
       |       coalesce(n_hit, 0) AS n_hit,
       |       round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_sh, 4) AS overlap,
       |       round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_sh, 4) >= $ContamThreshold AS contaminated
       |FROM sizes LEFT JOIN hits ON sizes.id = hits.id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- Q-pii
  // PII detection + redaction — the scrubbing pass a training corpus gets
  // before anything else sees it. The synthetic corpus carries no PII, so
  // the query renders a deterministic PII-bearing line per doc from its
  // columns (same fixture-render pattern as q_vcf/q_linescan), then masks
  // emails → IPv4s → phone shapes in that order; counts are taken on the
  // progressively-masked text so a wider pattern's match is never
  // re-counted by a narrower one. Pure codegen'd regexp expressions in
  // the scan stage — at 100 TB this runs at read throughput, no UDF, no
  // shuffle. Patterns are the Java/RE2-portable set in TextFunctions.
  def pii(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("contact "), col("source"), lit("."), col("doc_id").cast("string"),
      lit("@example.com"),
      when(col("doc_id") % 3 === 0, lit(" cc admin@corp.org"))
        .otherwise(lit("")),
      when(col("doc_id") % 2 === 0,
        concat(lit(" or 555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
        .otherwise(lit(" or unlisted")),
      lit(" from 10."), pmod(col("doc_id"), lit(256L)).cast("string"),
      lit("."), pmod(col("doc_id") * 7, lit(256L)).cast("string"),
      lit("."), pmod(col("doc_id") * 13, lit(256L)).cast("string"),
      lit(" re: "), substring(col("text"), 1, 40))
    val noEmail = regexp_replace(col("t"), EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    load(s, dir, "documents")
      .select(col("doc_id"), raw.as("t"))
      .select(col("doc_id"),
        countMatches(col("t"), EmailRe).as("n_email"),
        countMatches(noEmail, Ipv4Re).as("n_ip"),
        countMatches(noIp, PhoneRe).as("n_phone"),
        sha2(redactPii(col("t")), 256).as("redacted_sha"))
      .orderBy("doc_id")
  }

  private val piiSql = {
    val e = EmailRe; val ip = Ipv4Re; val ph = PhoneRe
    s"""WITH r AS (SELECT doc_id,
       |  'contact ' || source || '.' || CAST(doc_id AS VARCHAR) || '@example.com' ||
       |  CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.org' ELSE '' END ||
       |  CASE WHEN doc_id % 2 = 0
       |       THEN ' or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |       ELSE ' or unlisted' END ||
       |  ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
       |  '.' || CAST(doc_id * 7 % 256 AS VARCHAR) ||
       |  '.' || CAST(doc_id * 13 % 256 AS VARCHAR) ||
       |  ' re: ' || substr(text, 1, 40) AS t FROM documents),
       |m1 AS (SELECT doc_id, t, regexp_replace(t, '$e', '<EMAIL>', 'g') AS t1 FROM r),
       |m2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '$ip', '<IP>', 'g') AS t2 FROM m1)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(t,  '$e')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(t1, '$ip')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all(t2, '$ph')) AS BIGINT) AS n_phone,
       |  sha256(regexp_replace(t2, '$ph', '<PHONE>', 'g')) AS redacted_sha
       |FROM m2 ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------- Q-chunk
  // Context-window chunking: split each doc's token stream into fixed
  // windows of ChunkW tokens at stride ChunkS (ChunkW - ChunkS overlap) —
  // how a corpus becomes model-ready sequences. One explode over a
  // per-doc sequence() of window starts, slices over a tokens array
  // projected ONCE (re-tokenizing inside the per-window expression was a
  // measured 5× trap — see Dedup.shingleHashes). No shuffle at all until
  // the final presentation sort: at 100 TB this is a map-only job whose
  // output partitioning is inherited from the scan.
  private val ChunkW = 64
  private val ChunkS = 48

  def chunkQ(s: SparkSession, dir: String): DataFrame = {
    // last window start k*S must still cover token n: k ranges 0..K with
    // K = ceil((n-W)/S) (0 when the doc fits one window) — short final
    // windows keep their natural short length, nothing is padded.
    val nChunks = when(col("n") <= ChunkW, lit(0L))
      .otherwise(floor((col("n") - ChunkW + ChunkS - 1).cast("double") / ChunkS).cast("long"))
    load(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0L), nChunks)).as("chunk_id"))
      .withColumn("ck",
        slice(col("tk"), (col("chunk_id") * ChunkS + 1).cast("int"), lit(ChunkW)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ck")).cast("long").as("n_tok"),
        sha2(array_join(col("ck"), " "), 256).as("chunk_sha"))
      .orderBy("doc_id", "chunk_id")
  }

  private val chunkSql =
    s"""WITH toks AS (SELECT doc_id, $SqlToks AS tk FROM documents),
       |ch AS (SELECT doc_id, tk,
       |  unnest(generate_series(0, CASE WHEN len(tk) <= $ChunkW THEN 0
       |    ELSE CAST(ceil((len(tk) - $ChunkW) / $ChunkS.0) AS BIGINT) END)) AS chunk_id
       |  FROM toks),
       |sl AS (SELECT doc_id, chunk_id,
       |  list_slice(tk, chunk_id * $ChunkS + 1, chunk_id * $ChunkS + $ChunkW) AS ck
       |  FROM ch)
       |SELECT doc_id, chunk_id, CAST(len(ck) AS BIGINT) AS n_tok,
       |  sha256(array_to_string(ck, ' ')) AS chunk_sha
       |FROM sl ORDER BY doc_id, chunk_id""".stripMargin

  // --------------------------------------------------------------- Q-pack
  // Sequence packing (concat-and-split): per (lang, shard), docs are laid
  // end-to-end in doc_id order and each doc's pack is the PackBudget-token
  // bin its first token lands in. The shard key is the scale story: the
  // running sum is a window per (lang, shard), so packing is
  // embarrassingly parallel across shards — there is never a global sort
  // or a single-partition window, which is the classic packing
  // scale-killer. pack_offset is the doc's start offset inside its bin.
  private val PackBudget = 256
  private val PackShards = 8

  def pack(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        pmod(col("doc_id"), lit(PackShards.toLong)).as("shard"),
        tokenCount(col("text")).as("n_tok"))
      .withColumn("prior", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tok"),
        expr(s"prior DIV $PackBudget").as("pack_id"),
        pmod(col("prior"), lit(PackBudget.toLong)).as("pack_offset"))
      .orderBy("lang", "shard", "doc_id")
  }

  private val packSql =
    s"""WITH t AS (SELECT doc_id, lang, doc_id % $PackShards AS shard,
       |  CAST(len($SqlToks) AS BIGINT) AS n_tok FROM documents),
       |p AS (SELECT doc_id, lang, shard, n_tok,
       |  CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prior
       |  FROM t)
       |SELECT doc_id, lang, shard, n_tok,
       |  prior // $PackBudget AS pack_id, prior % $PackBudget AS pack_offset
       |FROM p ORDER BY lang, shard, doc_id""".stripMargin

  // ------------------------------------------------------------ Q-unicode
  // Unicode NFC normalization + whitespace canonicalization — the cleanup
  // every dedup/fingerprint hash depends on (decomposed e+U+0301 and
  // composed é must hash identically). Spark has no NFC built-in; this is
  // graft's native codegen'd NfcNormalize expression (plans/
  // NfcNormalizeExpr.scala) running in the scan stage. The rendered text
  // plants two decomposed accents and an A+ring per row, so len_raw -
  // len_nfc == 3 proves composition actually happened; the oracle is
  // DuckDB's own nfc_normalize.
  def unicode(s: SparkSession, dir: String): DataFrame = {
    // the string literals below are DECOMPOSED on purpose (e + U+0301,
    // A + U+030A) — NFC composes them to é / Å, shrinking char length
    val raw = concat(
      lit("résumé\t "), col("source"),
      lit("  Å "), substring(col("text"), 1, 30))
    def cleaned(c: Column) = trim(regexp_replace(nfc(c), "\\s+", " "))
    load(s, dir, "documents")
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("len_raw"),
        length(nfc(col("raw"))).cast("long").as("len_nfc"),
        sha2(cleaned(col("raw")), 256).as("clean_sha"))
      .orderBy("doc_id")
  }

  private val unicodeSql =
    s"""WITH r AS (SELECT doc_id,
       |  're' || chr(769) || 'sume' || chr(769) || chr(9) || ' ' || source ||
       |  '  A' || chr(778) || ' ' || substr(text, 1, 30) AS raw FROM documents)
       |SELECT doc_id,
       |  CAST(length(raw) AS BIGINT) AS len_raw,
       |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
       |  sha256(trim(regexp_replace(nfc_normalize(raw), '\\s+', ' ', 'g'))) AS clean_sha
       |FROM r ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- Q-vocab
  // Corpus vocabulary statistics — the token-frequency table a tokenizer
  // build (or a stopword/df-cap choice) starts from: per token, total
  // occurrences and document frequency, top-K by count. Shape at 100 TB:
  // explode feeds a partial-aggregating groupBy (map-side combine does
  // most of the work — vocabulary is tiny next to token volume), and the
  // top-K presentation is a TakeOrdered, never a global sort of the
  // vocabulary. countDistinct(doc_id) is exact (the oracle demands it);
  // a production-size vocab scan would swap in approx_count_distinct.
  private val VocabTopK = 200

  def vocab(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occur"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occur").desc, col("tok"))
      .limit(VocabTopK)

  private val vocabSql =
    s"""WITH toks AS (SELECT doc_id, unnest($SqlToks) AS tok FROM documents)
       |SELECT tok, CAST(count(*) AS BIGINT) AS n_occur,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM toks GROUP BY tok
       |ORDER BY n_occur DESC, tok LIMIT $VocabTopK""".stripMargin

  // ---------------------------------------------------------- Q-invindex
  // Token → posting-list inverted index (InvertedIndex.build): exact df
  // for EVERY token, sorted doc-id posting lists only for tokens at or
  // under the df cap — hot (stop-word) tokens keep a NULL list, the row-
  // width bound that survives 100 TB (a stop-word's postings are "most
  // of the corpus"). The cap is corpus-relative — floor(78% of n), in
  // INTEGER arithmetic so both engines resolve the same threshold — and
  // sits inside the synthetic corpus's df band (77±1% of docs), so the
  // gate exercises BOTH behaviors: real postings below it, NULL above.
  // Posting lists serialize as comma-joined strings (numeric sort BEFORE
  // join) — the q_groupcount convention for hashable list columns.
  private val IndexDfPct = 78L

  private def buildIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    // Bounded driver read: one count — resolves the corpus-relative cap
    // (the q_embdup_auto pattern for data-dependent config).
    val maxDf = docs.count() * IndexDfPct / 100
    InvertedIndex.build(docs, "doc_id", tokens(col("text")), maxDf)
  }

  def invIndex(s: SparkSession, dir: String): DataFrame =
    buildIndex(s, dir)
      .select(col("tok"), col("df"),
        array_join(col("postings"), ",").as("postings"))
      .orderBy("tok")

  private val SqlIndexCte =
    s"""toks AS (SELECT doc_id AS id, unnest(list_distinct($SqlToks)) AS tok
       |          FROM documents),
       |cfg AS (SELECT count(*) * $IndexDfPct // 100 AS maxdf FROM documents),
       |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
       |        FROM toks GROUP BY tok)""".stripMargin

  private val invIndexSql =
    s"""WITH $SqlIndexCte,
       |posts AS (SELECT tok, array_to_string(list_sort(list(id)), ',') AS postings
       |          FROM toks GROUP BY tok)
       |SELECT dfs.tok, dfs.df,
       |       CASE WHEN dfs.df <= (SELECT maxdf FROM cfg)
       |            THEN posts.postings END AS postings
       |FROM dfs JOIN posts USING (tok) ORDER BY tok""".stripMargin

  // ----------------------------------------------------- Q-index-refresh
  // Incremental index maintenance end-to-end: publish the index of the
  // even-doc_id half, refresh with the odd half (InvertedIndex.refresh:
  // delta-only build, touched buckets read partition-pruned and
  // rewritten via dynamic partition overwrite), read the result back.
  // The oracle is the SAME independent full-corpus derivation as
  // q_invindex — publish→refresh must be indistinguishable from a full
  // rebuild, including cold→hot transitions at the shared cap (a token
  // cold in the published half whose merged df crosses the cap must
  // come back NULL). The scratch dir is FIXED and wiped on entry, so
  // the query is re-runnable (refresh's append-only contract) without
  // littering FixtureRoot.
  def indexRefreshQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val maxDf = docs.count() * IndexDfPct / 100
    val dest = s"$FixtureRoot/invindex_refresh"
    wipeDir(dest)
    val toks = tokens(col("text"))
    InvertedIndex.publish(
      InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", toks, maxDf), dest)
    InvertedIndex.refresh(s, dest,
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", toks, maxDf)
    s.read.parquet(dest)
      .select(col("tok"), col("df"),
        array_join(col("postings"), ",").as("postings"))
      .orderBy("tok")
  }

  // ----------------------------------------------------- Q-stream-index
  // STREAMING index maintenance (Ingest.indexStream): publish the index
  // of the even-doc_id half, then land the odd half as a 3-file doc
  // stream — foreachBatch drives InvertedIndex.refresh once per
  // micro-batch (maxFilesPerTrigger=1, so the merge logic runs across
  // several batches), with replayed batch ids skipped via _applied
  // markers. The oracle is q_invindex's full-corpus derivation: however
  // the stream chunked the docs, the final index must be
  // indistinguishable from a full rebuild.
  def streamIndexQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val maxDf = docs.count() * IndexDfPct / 100
    val scratch = s"$FixtureRoot/streamindex"
    wipeDir(scratch)
    val toks = tokens(col("text"))
    InvertedIndex.publish(
      InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", toks, maxDf), s"$scratch/idx")
    docs.filter(col("doc_id") % 2 =!= 0).repartition(3)
      .write.parquet(s"$scratch/in")
    Ingest.indexStream(s, s"$scratch/in", "*.parquet", s"$scratch/idx",
      s"$scratch/ckpt", "doc_id", toks, maxDf)
    s.read.parquet(s"$scratch/idx")
      .select(col("tok"), col("df"),
        array_join(col("postings"), ",").as("postings"))
      .orderBy("tok")
  }

  // ------------------------------------------------------ Q-index-cdc
  // Manifest-CDC index maintenance (Ingest.indexSnapshotCdc): the
  // documents land in a SNAPSHOT TABLE in three commits (publish + two
  // appends by doc_id % 3) and the inverted index FOLLOWS it through
  // the shared CDC pump — window 1 bootstraps the published index,
  // windows 2 and 3 merge their delta docs via the marker-guarded
  // staged swap (markers keyed by window end version, so a replay
  // skips). Same contract as q_stream_index: however the versions
  // chunked the corpus, the final index must be indistinguishable from
  // a full rebuild (the q_invindex oracle).
  def indexCdcQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val maxDf = docs.count() * IndexDfPct / 100
    val scratch = s"$FixtureRoot/indexcdc"
    wipeDir(scratch)
    val toks = tokens(col("text"))
    def slice(r: Int) = docs.filter(col("doc_id") % 3 === r)
    graft.operators.Snapshot.publishSnapshot(slice(0), s"$scratch/src")
    graft.operators.Snapshot.appendSnapshot(slice(1), s"$scratch/src")
    graft.operators.Snapshot.appendSnapshot(slice(2), s"$scratch/src")
    Ingest.indexSnapshotCdc(s, s"$scratch/src", s"$scratch/idx",
      s"$scratch/ckpt", "doc_id", toks, maxDf, maxVersionsPerBatch = 1)
    s.read.parquet(s"$scratch/idx")
      .select(col("tok"), col("df"),
        array_join(col("postings"), ",").as("postings"))
      .orderBy("tok")
  }

  // ------------------------------------------------------------ Q-search
  // Conjunctive retrieval over the index (InvertedIndex.searchAll): docs
  // containing ALL queried terms, resolved purely from posting lists —
  // the corpus is never rescanned. Terms are the two RAREST cold tokens
  // ((df, tok) order — deterministic and scale-portable), resolved from
  // the index by a bounded 2-row read. The oracle replays the selection
  // AND derives the hit set independently from `documents`, so a posting
  // list that lost or duplicated a doc id diverges the hash even if the
  // index's own gate row were somehow consistent with it.
  def searchQ(s: SparkSession, dir: String): DataFrame = {
    val idx = buildIndex(s, dir).persist()
    try {
      val terms = idx.filter(col("postings").isNotNull)
        .orderBy(col("df"), col("tok")).limit(2)
        .select("tok").collect().map(_.getString(0)).toSeq
      InvertedIndex.searchAll(idx, terms)
        .select(col("id").as("doc_id")).orderBy("doc_id")
        // materialize before unpersist: collect-free queries return lazy
        // plans, but the gate dump writes immediately after return; the
        // local checkpoint pins the resolved rows instead
        .localCheckpoint()
    } finally idx.unpersist()
  }

  private val searchSql =
    s"""WITH $SqlIndexCte,
       |terms AS (SELECT tok FROM dfs
       |          WHERE df <= (SELECT maxdf FROM cfg)
       |          ORDER BY df, tok LIMIT 2)
       |SELECT id AS doc_id FROM toks JOIN terms USING (tok)
       |GROUP BY id HAVING count(*) = (SELECT count(*) FROM terms)
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- Q-bm25
  // Ranked (disjunctive) retrieval over the scored index
  // (InvertedIndex.buildScored + bm25TopN): top-10 documents for the
  // three most-common COLD terms ((df DESC, tok) — deterministic and
  // scale-portable), scored by the rational BM25 surrogate — k1/b folded
  // into exact BIGINT numerator/denominator, one double division per
  // (term, doc), per-doc sum an order-independent BIGINT — so the
  // ranking replays bit-for-bit in DuckDB from the raw corpus (full
  // independent derivation: tf/df/dl/N/L all recomputed from
  // `documents`, never from the index). The ln=true twin is the
  // deployment form; same candidate shape, not hash-replayable (ln ulps
  // differ across libm builds). Postings carry (tf, dl) precisely so
  // this query touches the corpus only at build time.
  private val Bm25Terms = 3
  private val Bm25TopK = 10

  def bm25Q(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    // Bounded driver read: one aggregate row (N docs, L tokens).
    val st = docs.agg(count(lit(1)), sum(size(tokens(col("text"))))).head()
    val n = st.getLong(0)
    val l = st.getLong(1)
    val idx = InvertedIndex.buildScored(docs, "doc_id",
      tokens(col("text")), n * IndexDfPct / 100).persist()
    try {
      // Bounded driver read: the Bm25Terms selected term strings.
      val terms = idx.filter(col("postings").isNotNull)
        .orderBy(col("df").desc, col("tok")).limit(Bm25Terms)
        .select("tok").collect().map(_.getString(0)).toSeq
      InvertedIndex.bm25TopN(idx, terms, n, l, Bm25TopK)
        .select(col("id").as("doc_id"), col("score"))
        .localCheckpoint()
    } finally idx.unpersist()
  }

  private val bm25Sql =
    s"""WITH rawtoks AS (SELECT doc_id AS id, unnest($SqlToks) AS tok
       |                 FROM documents),
       |cfg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |               count(*) * $IndexDfPct // 100 AS maxdf
       |        FROM documents),
       |ltot AS (SELECT CAST(count(*) AS BIGINT) AS l FROM rawtoks),
       |tfs AS (SELECT tok, id, CAST(count(*) AS BIGINT) AS tf
       |        FROM rawtoks GROUP BY tok, id),
       |lens AS (SELECT id, CAST(count(*) AS BIGINT) AS dl
       |         FROM rawtoks GROUP BY id),
       |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
       |        FROM tfs GROUP BY tok),
       |terms AS (SELECT tok, df FROM dfs
       |          WHERE df <= (SELECT maxdf FROM cfg)
       |          ORDER BY df DESC, tok LIMIT $Bm25Terms),
       |sc AS (SELECT t.id,
       |  CAST(round(1000000.0 *
       |    (CAST((2*n - 2*tm.df + 1) * 22 * l * t.tf AS DOUBLE) /
       |     CAST((2*tm.df + 1) * (10*l*t.tf + 3*l + 9*ln2.dl*n) AS DOUBLE)),
       |    0) AS BIGINT) AS c
       |  FROM tfs t JOIN terms tm USING (tok)
       |       JOIN lens ln2 ON t.id = ln2.id, cfg, ltot)
       |SELECT id AS doc_id, CAST(sum(c) AS BIGINT) AS score
       |FROM sc GROUP BY id
       |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin

  // ---------------------------------------------------------------- Q-rrf
  // Hybrid retrieval (Retrieval.rrfFuse): reciprocal-rank fusion of a
  // lexical arm and a semantic arm per query — the standard RAG
  // combination of incomparable score scales via ranks only. Queries are
  // the doc_id % 97 = 0 docs (same spine as q_mmr). Lexical arm: the
  // RrfTerms globally-rarest distinct tokens of the query doc ((df, tok)
  // — deterministic), scoring candidates by Σ (tf·10⁶ div dl) — pure
  // BIGINT query-likelihood, no floats. Semantic arm: 4-decimal cosine
  // against the query embedding. Fused score 1/(60+r_lex) + 1/(60+r_sem)
  // is two IEEE divisions summed in fixed order — both engines compute
  // the identical double, so the fused ORDER replays exactly. The gate
  // arms are the oracle-expressible brute forms; a deployment feeds
  // bm25TopN and ivfKnnIndexed into the same rrfFuse (arm-agnostic).
  private val RrfK = 60
  private val RrfArmN = 20
  private val RrfTopK = 10
  private val RrfTerms = 3

  def rrfQ(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val wByQid = org.apache.spark.sql.expressions.Window.partitionBy("qid")
    val docs = load(s, dir, "documents")
    val tok = docs.select(col("doc_id").as("id"),
      explode(tokens(col("text"))).as("tok"))
    val tf = tok.groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("id").agg(count(lit(1)).as("dl"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val qids = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"))
    val qterms = tf.join(broadcast(qids), tf("id") === qids("qid"))
      .join(df, "tok")
      .withColumn("rn", row_number().over(
        wByQid.orderBy(col("df"), col("tok"))))
      .filter(col("rn") <= RrfTerms).select("qid", "tok")
    val lex = broadcast(qterms).join(tf, "tok")
      .filter(col("id") =!= col("qid"))
      .join(dl, "id")
      .groupBy("qid", "id")
      .agg(sum(expr("(tf * 1000000) div dl")).as("score"))
      .withColumn("rank", row_number().over(
        wByQid.orderBy(col("score").desc, col("id"))).cast("long"))
      .filter(col("rank") <= RrfArmN).select("qid", "id", "rank")
    val emb = load(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val sem = emb.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("id"),
        round(Similarity.cosine(col("embedding"), col("qv")), 4).as("sim"))
      .withColumn("rank", row_number().over(
        wByQid.orderBy(col("sim").desc, col("id"))).cast("long"))
      .filter(col("rank") <= RrfArmN).select("qid", "id", "rank")
    Retrieval.rrfFuse(lex, sem, RrfK, RrfTopK)
      .select(col("qid"), col("id").as("doc_id"), col("rank"),
        round(col("rrf"), 6).as("rrf"), col("rank_lex"), col("rank_sem"))
      .orderBy("qid", "rank")
  }

  private lazy val rrfSql = {
    def cos(x: String, y: String) =
      s"round(${sqlEmbDot(x, y)} / (sqrt(${sqlEmbDot(x, x)}) * sqrt(${sqlEmbDot(y, y)})), 4)"
    s"""WITH tok AS (SELECT doc_id AS id, unnest($SqlToks) AS tok FROM documents),
       |tf AS (SELECT id, tok, CAST(count(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY id, tok),
       |dl AS (SELECT id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY id),
       |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
       |qids AS (SELECT doc_id AS qid FROM documents WHERE doc_id % 97 = 0),
       |qterms AS (SELECT qid, tok FROM (
       |    SELECT q.qid, tf.tok,
       |           row_number() OVER (PARTITION BY q.qid ORDER BY df.df, tf.tok) AS rn
       |    FROM qids q JOIN tf ON q.qid = tf.id JOIN df USING (tok))
       |  WHERE rn <= $RrfTerms),
       |lex0 AS (SELECT qt.qid, tf.id,
       |           CAST(sum((tf.tf * 1000000) // dl.dl) AS BIGINT) AS score
       |         FROM qterms qt JOIN tf USING (tok) JOIN dl ON tf.id = dl.id
       |         WHERE tf.id != qt.qid GROUP BY qt.qid, tf.id),
       |lex AS (SELECT qid, id, rnk AS rank_lex FROM (
       |    SELECT qid, id,
       |           row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rnk
       |    FROM lex0) WHERE rnk <= $RrfArmN),
       |qv AS (SELECT vec_id AS qid, embedding AS qv
       |       FROM embeddings WHERE vec_id % 97 = 0),
       |sem0 AS (SELECT qv.qid, e.vec_id AS id, ${cos("e.embedding", "qv.qv")} AS sim
       |         FROM embeddings e CROSS JOIN qv WHERE e.vec_id != qv.qid),
       |sem AS (SELECT qid, id, rnk AS rank_sem FROM (
       |    SELECT qid, id,
       |           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rnk
       |    FROM sem0) WHERE rnk <= $RrfArmN),
       |fused AS (SELECT coalesce(lex.qid, sem.qid) AS qid,
       |            coalesce(lex.id, sem.id) AS id, lex.rank_lex, sem.rank_sem,
       |            coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + lex.rank_lex),
       |                     CAST(0.0 AS DOUBLE))
       |              + coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + sem.rank_sem),
       |                         CAST(0.0 AS DOUBLE)) AS rrf0
       |          FROM lex FULL OUTER JOIN sem
       |            ON lex.qid = sem.qid AND lex.id = sem.id)
       |SELECT qid, doc_id, "rank", rrf, rank_lex, rank_sem FROM (
       |  SELECT qid, id AS doc_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY rrf0 DESC, id) AS "rank",
       |         round(rrf0, 6) AS rrf, rank_lex, rank_sem
       |  FROM fused) WHERE "rank" <= $RrfTopK ORDER BY qid, "rank"""".stripMargin
  }

  // --------------------------------------------------------- Q-bucketjoin
  // Bucketed co-located join — the fact-to-fact join shape that survives
  // 100 TB: both sides are published bucketed AND sorted by the join key
  // (`bucketBy(8).sortBy`), so the join consumes bucket layout instead of
  // shuffling either side — on a cluster this is the difference between
  // re-shuffling 100 TB per join and reading pre-partitioned data in
  // place. BucketedJoinSpec asserts the plan property (zero Exchange with
  // broadcast off); this query puts the write→read→join round-trip
  // through the oracle gate, which replays the plain join on the source
  // parquet — any bucketing/pruning bug that loses or duplicates rows
  // diverges the hash.
  def bucketJoin(s: SparkSession, dir: String): DataFrame = {
    def publish(df: DataFrame, name: String, key: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $name")
      df.write.format("parquet").bucketBy(8, key).sortBy(key)
        .option("path", s"$FixtureRoot/$name")
        .mode("overwrite").saveAsTable(name)
    }
    publishOnce("graft_bucket", dir,
      valid = s.catalog.tableExists("graft_bucket_orders") &&
        s.catalog.tableExists("graft_bucket_lineitem")) {
      publish(load(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        "graft_bucket_orders", "o_orderkey")
      publish(load(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        "graft_bucket_lineitem", "l_orderkey")
    }
    s.table("graft_bucket_orders")
      .join(s.table("graft_bucket_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        ExactAgg.moneySum(col("l_extendedprice"), 100).as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val bucketJoinSql =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
       |       ${moneySumSql("l_extendedprice")} AS revenue
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- Q-asof
  // As-of (temporal) join: each click enriched with the same user's most
  // recent error at or before it — point-in-time attribution. Engine
  // side is operators/AsOf (union + ordered carry-forward: ONE shuffle
  // by user, no per-row probe, no range join); the oracle is DuckDB's
  // NATIVE `ASOF LEFT JOIN` — a fully independent implementation of the
  // semantics, so this gate row checks the operator against someone
  // else's as-of, not a replay of our own. Errors are pre-aggregated to
  // one row per (user, ts): the operator's determinism contract.
  def asof(s: SparkSession, dir: String): DataFrame = {
    // µs epoch-long time axis on BOTH sides (the parquet carries a µs
    // TIMESTAMP; unix_micros here = DuckDB's epoch_us in the oracle) so
    // the lag subtraction is integer arithmetic in both engines.
    val ev = load(s, dir, "events")
      .withColumn("ts", unix_micros(col("ts").cast("timestamp")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("err_value"))
    AsOf.asofJoin(clicks, errors, "user_id", "ts", Seq("err_value"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("err_value"),
        (col("ts") - col("__rt")).as("lag_us"))
      .orderBy("event_id")
  }

  private val asofSql =
    s"""WITH clicks AS (SELECT event_id, user_id, epoch_us(ts) AS ts
       |  FROM events WHERE event_type = 'click'),
       |errs AS (SELECT user_id, epoch_us(ts) AS tr, max(value) AS err_value
       |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
       |SELECT c.event_id, c.user_id, c.ts, e.err_value,
       |       (c.ts - e.tr) AS lag_us
       |FROM clicks c ASOF LEFT JOIN errs e
       |  ON c.user_id = e.user_id AND c.ts >= e.tr
       |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------- Q-asof-chunked
  // The SAME as-of semantics through the range-chunked carry variant
  // (AsOf.asofJoinChunked — the hot-key scale path: per-(key, range)
  // windows + a cumulated range summary instead of one window per key),
  // against the SAME independent DuckDB native-ASOF oracle. Two engine
  // plans, one gate truth: a boundary-stitch bug in the chunked variant
  // diverges this row while q_asof stays green. Chunk = 1 hour of
  // microseconds, so sf0.01's event span crosses many boundaries.
  def asofChunked(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
      .withColumn("ts", unix_micros(col("ts").cast("timestamp")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("err_value"))
    AsOf.asofJoinChunked(clicks, errors, "user_id", "ts", Seq("err_value"),
        chunk = 3600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("err_value"),
        (col("ts") - col("__rt")).as("lag_us"))
      .orderBy("event_id")
  }

  // ------------------------------------------------------------- Q-winnow
  // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
  // algorithm): slide a w-hash window over the ORDERED k-gram hashes and
  // select each window's minimum — guarantees any match of length
  // ≥ w+k−1 tokens shares a fingerprint, with a ~2/(w+1) sampling rate.
  // Spark shape: the per-doc window function partitions by doc, so at
  // 100 TB this is embarrassingly parallel — no global anything. Docs
  // shorter than a full window keep one all-hash window (the whole-text
  // collapse rule shared with the shingle family).
  private val WinnowW = 4

  def winnow(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(0, WinnowW - 1)
    val grams = load(s, dir, "documents")
      .select(col("doc_id").as("id"), tokens(col("text")).as("__toks"))
      .select(col("id"), posexplode(wordNgrams(col("__toks"), 3)).as(Seq("pos", "g")))
      .select(col("id"), col("pos"), shaHash32(col("g")).as("h"))
    grams
      .withColumn("L", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
      .withColumn("wmin", min(col("h")).over(w))
      .filter(col("pos") <= greatest(lit(0), col("L") - WinnowW))
      .select(col("id"), col("wmin")).distinct()
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_fp"),
        sha2(array_join(
          transform(array_sort(collect_list(col("wmin"))),
            x => x.cast("string")), ","), 256).as("fp_sha"))
      .select(col("id").as("doc_id"), col("n_fp"), col("fp_sha"))
      .orderBy("doc_id")
  }

  private val winnowSql =
    s"""WITH toks AS (SELECT doc_id AS id, $SqlToks AS tk FROM documents),
       |gr0 AS (SELECT id, $SqlShingles3 AS gs FROM toks),
       |gr AS (SELECT id, gs, unnest(generate_series(1, len(gs))) AS pos FROM gr0),
       |hs AS (SELECT id, pos, ${sqlSh32("gs[pos]")} AS h, len(gs) AS L FROM gr),
       |wm AS (SELECT id, pos, L, min(h) OVER (PARTITION BY id ORDER BY pos
       |  ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wmin FROM hs),
       |sel AS (SELECT DISTINCT id, wmin FROM wm
       |        WHERE pos <= greatest(1, L - ${WinnowW - 1}))
       |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_fp,
       |       sha256(string_agg(CAST(wmin AS VARCHAR), ',' ORDER BY wmin)) AS fp_sha
       |FROM sel GROUP BY id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- Q-keywords
  // Per-doc keyword extraction: rank a doc's terms by tf/df (rarity-
  // weighted frequency) and keep the top 3. Deliberately NOT tf·ln(N/df):
  // ranking by tf/df is monotone-equivalent for a fixed corpus, and
  // integer-input double DIVISION is bit-identical across engines
  // (IEEE-exact) while ln() may differ in the last ulp between libm
  // implementations — the kind of cross-engine nondeterminism this whole
  // query surface is designed to keep out of 1000-executor runs. Shape:
  // two partial-agg groupBys + one broadcast-size dim join (vocabulary)
  // + a per-doc top-k window.
  private val KeywordsK = 3

  def keywords(s: SparkSession, dir: String): DataFrame = {
    val tf = load(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("tok"))
    tf.join(broadcast(dfs), Seq("tok"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KeywordsK)
      .select(col("doc_id"), col("rank"), col("tok"),
        round(col("tf").cast("double") / col("df"), 6).as("score"))
      .orderBy("doc_id", "rank")
  }

  private val keywordsSql =
    s"""WITH toks AS (SELECT doc_id, unnest($SqlToks) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
       |sc AS (SELECT doc_id, tok,
       |       round(CAST(tf AS DOUBLE) / df, 6) AS score,
       |       CAST(row_number() OVER (PARTITION BY doc_id
       |         ORDER BY CAST(tf AS DOUBLE) / df DESC, tok) AS INTEGER) AS rank
       |       FROM tf JOIN dfs USING (tok))
       |SELECT doc_id, rank, tok, score FROM sc
       |WHERE rank <= $KeywordsK ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------------------------ Q-lmscore
  // Corpus-trained bigram LM fluency scoring (KenLM-style perplexity
  // filtering without the external model artifact): docs whose token
  // transitions are improbable under the corpus's own bigram statistics
  // score low. The gate row is the ln-free mean-probability form — every
  // arithmetic step (integer counts → IEEE divide → a (w1,w2)-ordered
  // left-to-right fold of per-bigram-type terms) replays bit-exactly in
  // DuckDB; the log2
  // deployable form is pinned by LanguageModelSpec instead (libm ln has
  // no cross-engine twin). Shape: LanguageModel.scala — one persisted
  // explode feeds two partial-agg count tables + a one-row V read.
  def lmScoreQ(s: SparkSession, dir: String): DataFrame =
    LanguageModel.bigramScore(load(s, dir, "documents"), "doc_id", "text")
      .orderBy("id")

  private val lmScoreSql =
    s"""WITH toks AS (SELECT doc_id AS id, $SqlToks AS tk FROM documents),
       |bi AS (SELECT id, tk[i] AS w1, tk[i + 1] AS w2
       |       FROM (SELECT id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
       |             FROM toks WHERE len(tk) >= 2)),
       |d2 AS (SELECT id, w1, w2, count(*) AS m FROM bi GROUP BY 1, 2, 3),
       |c2 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS n12
       |       FROM d2 GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
       |cfg AS (SELECT count(DISTINCT w2) AS v FROM c2),
       |term AS (SELECT id, w1, w2, m * ((n12 + 1.0) / (n1 + 1.0 * v)) AS t, m
       |         FROM d2 JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
       |         CROSS JOIN cfg),
       |ag AS (SELECT id, CAST(sum(m) AS BIGINT) AS n_bigrams,
       |              list(t ORDER BY w1, w2) AS ts FROM term GROUP BY id)
       |SELECT id, n_bigrams,
       |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
       |             (a, x) -> a + x) / n_bigrams, 4) AS lm_score
       |FROM ag ORDER BY id""".stripMargin

  // --------------------------------------------------------------- Q-sbo
  // Stupid Backoff trigram scoring (LanguageModel.stupidBackoff): the
  // distributed-pipeline LM smoothing — model trained on the src0
  // sub-corpus, the REST scored, so unseen trigrams genuinely back off
  // trigram → 0.4·bigram → 0.16·unigram → 0. Same ln-free mean-score
  // gate discipline as q_lmscore; the oracle replays every count table,
  // the three-way CASE, and the (w1,w2,w3)-ordered fold.
  def sboQ(s: SparkSession, dir: String): DataFrame =
    LanguageModel.stupidBackoff(load(s, dir, "documents"), "doc_id", "text",
        col("source") === DsirTarget)
      .orderBy("id")

  private val sboSql =
    s"""WITH toks AS (SELECT doc_id AS id, source = '$DsirTarget' AS mdl,
       |              $SqlToks AS tk FROM documents),
       |tri AS (SELECT id, mdl, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
       |        FROM (SELECT id, mdl, tk, unnest(generate_series(1, len(tk) - 2)) AS i
       |              FROM toks WHERE len(tk) >= 3)),
       |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS n3
       |       FROM tri WHERE mdl GROUP BY 1, 2, 3),
       |c2ctx AS (SELECT w1, w2, CAST(sum(n3) AS BIGINT) AS n2ctx FROM c3 GROUP BY 1, 2),
       |c2 AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS n2
       |       FROM tri WHERE mdl GROUP BY 1, 2),
       |c1ctx AS (SELECT w2, CAST(sum(n2) AS BIGINT) AS n1ctx FROM c2 GROUP BY 1),
       |c1 AS (SELECT w3, CAST(count(*) AS BIGINT) AS n1 FROM tri WHERE mdl GROUP BY 1),
       |cfg AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM tri WHERE mdl),
       |d AS (SELECT id, w1, w2, w3, CAST(count(*) AS BIGINT) AS m
       |      FROM tri WHERE NOT mdl GROUP BY 1, 2, 3, 4),
       |term AS (SELECT d.id, d.w1, d.w2, d.w3,
       |    d.m * (CASE WHEN c3.n3 IS NOT NULL THEN CAST(c3.n3 AS DOUBLE) / c2ctx.n2ctx
       |                WHEN c2.n2 IS NOT NULL THEN 0.4 * (CAST(c2.n2 AS DOUBLE) / c1ctx.n1ctx)
       |                WHEN c1.n1 IS NOT NULL THEN 0.4 * 0.4 * (CAST(c1.n1 AS DOUBLE) / cfg.nn)
       |                ELSE 0.0 END) AS t, d.m AS m
       |  FROM d LEFT JOIN c3 USING (w1, w2, w3) LEFT JOIN c2ctx USING (w1, w2)
       |       LEFT JOIN c2 USING (w2, w3) LEFT JOIN c1ctx USING (w2)
       |       LEFT JOIN c1 USING (w3) CROSS JOIN cfg),
       |ag AS (SELECT id, CAST(sum(m) AS BIGINT) AS n_trigrams,
       |              list(t ORDER BY w1, w2, w3) AS ts FROM term GROUP BY id)
       |SELECT id, n_trigrams,
       |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
       |             (a, x) -> a + x) / n_trigrams, 4) AS sbo_score
       |FROM ag ORDER BY id""".stripMargin

  // --------------------------------------------------------- Q-linededup
  // Corpus-level boilerplate line removal (CCNet/RefinedWeb-style): lines
  // that repeat across more than LineMaxDf docs (nav bars, license
  // footers) are dropped and docs reassembled from surviving lines in
  // original order. The synthetic docs are single-line, so the query
  // renders a 3-line page per doc (shared TOS header, unique body,
  // per-source copyright footer) — header always drops, body always
  // stays, and the footer's fate depends on per-source doc counts, which
  // the oracle recomputes rather than assumes. Scale shape is in
  // Dedup.dropBoilerplateLines: one df aggregate, broadcast anti-join of
  // the tiny hot set, order carried explicitly through the reassembly.
  private val LineMaxDf = 10L

  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val txt = concat(
      lit("TERMS OF SERVICE apply to all content\n"),
      lit("doc "), col("doc_id").cast("string"),
      lit(" body: "), substring(col("text"), 1, 60), lit("\n"),
      lit("copyright 2024 "), col("source"))
    val rendered = load(s, dir, "documents")
      .select(col("doc_id"), txt.as("txt"))
    Dedup.dropBoilerplateLines(rendered, "doc_id", "txt", maxDf = LineMaxDf)
      .select(col("id").as("doc_id"), col("n_kept"),
        sha2(col("text"), 256).as("clean_sha"))
      .orderBy("doc_id")
  }

  private val lineDedupSql =
    s"""WITH r AS (SELECT doc_id,
       |  'TERMS OF SERVICE apply to all content' || chr(10) ||
       |  'doc ' || CAST(doc_id AS VARCHAR) || ' body: ' || substr(text, 1, 60) || chr(10) ||
       |  'copyright 2024 ' || source AS txt FROM documents),
       |ls AS (SELECT doc_id, string_split(txt, chr(10)) AS la FROM r),
       |ln AS (SELECT doc_id, la, unnest(generate_series(1, len(la))) AS pos FROM ls),
       |lines AS (SELECT doc_id, pos, la[pos] AS line FROM ln),
       |dfs AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY line),
       |kept AS (SELECT l.doc_id, l.pos, l.line
       |         FROM lines l JOIN dfs USING (line) WHERE line_df <= $LineMaxDf),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |        string_agg(line, chr(10) ORDER BY pos) AS text
       |        FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(agg.n_kept, 0) AS n_kept,
       |       sha256(coalesce(agg.text, '')) AS clean_sha
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- Q-subdedup
  // Exact duplicated-span excision (Dedup.substringDedup): every
  // SubDedupW-token window occurring ≥ 2 times anywhere in the corpus
  // marks its positions and docs are reassembled from surviving tokens —
  // the token-level dedup pass that strips shared boilerplate passages
  // document-level dedup cannot see. The oracle replays window hashing
  // (sha256 of the space-joined slice), the ≥2 count, coverage expansion
  // and ordered reassembly from the raw corpus — at sf0.01 this drops
  // 2 266 duplicate window occurrences (probed), so both the excision
  // and the keep-everything path are exercised. Output text rides as its
  // sha (the q_linededup convention for long string columns).
  private val SubDedupW = 5

  def subDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(load(s, dir, "documents"), "doc_id", "text",
        w = SubDedupW)
      .select(col("id").as("doc_id"), col("n_dropped"),
        sha2(col("text"), 256).as("clean_sha"))
      .orderBy("doc_id")

  private val subDedupSql =
    s"""WITH tk AS (SELECT doc_id AS id, $SqlToks AS t FROM documents),
       |occ AS (SELECT id, p,
       |          sha256(array_to_string(t[p+1:p+$SubDedupW], ' ')) AS g
       |        FROM tk, LATERAL unnest(generate_series(0, len(t) - $SubDedupW)) AS u(p)
       |        WHERE len(t) >= $SubDedupW),
       |dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
       |cov AS (SELECT DISTINCT id, cp
       |        FROM occ JOIN dup USING (g),
       |             LATERAL unnest(generate_series(occ.p, occ.p + $SubDedupW - 1)) AS c(cp)),
       |toks AS (SELECT id, i - 1 AS pos, t[i] AS tok
       |         FROM tk, LATERAL unnest(generate_series(1, len(t))) AS s(i)),
       |kept AS (SELECT tk2.id, CAST(count(*) AS BIGINT) AS n_kept,
       |           string_agg(tk2.tok, ' ' ORDER BY tk2.pos) AS text
       |         FROM (SELECT toks.* FROM toks
       |               WHERE NOT EXISTS (SELECT 1 FROM cov
       |                 WHERE cov.id = toks.id AND cov.cp = toks.pos)) tk2
       |         GROUP BY tk2.id)
       |SELECT t.id AS doc_id,
       |       CAST(len(t.t) - coalesce(k.n_kept, 0) AS BIGINT) AS n_dropped,
       |       sha256(coalesce(k.text, '')) AS clean_sha
       |FROM tk t LEFT JOIN kept k USING (id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- Q-partprune
  // Partition-pruned scan — the other half of the 100 TB storage story
  // next to q_bucketjoin's bucketing: facts land partitioned by day
  // (`partitionBy(p_date)` directory layout), and a day-scoped query
  // must read ONE directory, not filter 100 TB post-scan. The engine
  // side does the full write→read round-trip; PartitionPruneSpec asserts
  // the plan property (the p_date predicate lands in PartitionFilters,
  // before the scan); the oracle replays the same day filter on the
  // source parquet, so a layout bug that drops or duplicates rows
  // diverges the hash.
  private val PruneDay = "2024-01-05"

  def partPrune(s: SparkSession, dir: String): DataFrame = {
    val dest = s"$FixtureRoot/events_by_day"
    publishOnce(dest, dir) {
      load(s, dir, "events")
        .withColumn("p_date", to_date(col("ts")).cast("string"))
        .write.mode("overwrite").partitionBy("p_date").parquet(dest)
    }
    s.read.parquet(dest)
      .filter(col("p_date") === PruneDay)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        ExactAgg.moneySum(col("value"), 100).as("sum_value"))
      .orderBy("event_type")
  }

  private val partPruneSql =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("value")} AS sum_value
       |FROM events
       |WHERE CAST(CAST(ts AS DATE) AS VARCHAR) = '$PruneDay'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------- Q-zorder
  // Z-order (Morton) layout — the MULTI-dimensional pruning story next
  // to q_partprune's one-column day dirs and q_bucketjoin's join-key
  // buckets: orders land partitioned by the coarse Morton bucket of
  // (order-day, customer), z-sorted within each bucket, and a 2-D box
  // query reads ONLY the bucket dirs its box intersects
  // (Layout.bucketsForBox — a driver-side grid walk over ≤ 4^gridBits
  // cells, never a data pass). The engine does the full write→read
  // round-trip through the layout; LayoutSpec asserts the plan property
  // (bucket predicate in PartitionFilters, non-matching dirs unread);
  // the oracle replays the curve arithmetic AND the bucket set over the
  // raw table, so a bucket-math bug that drops or duplicates a cell
  // diverges the hash. The curve is pure div/mod/multiply — engine-
  // portable, no bit intrinsics.
  private val ZBits = 12
  private val ZGrid = 3
  private val ZBox = (200L, 900L, 300L, 1200L) // [aLo,aHi] x [bLo,bHi]

  private def zCoords = (
    datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
      .cast("long") % (1L << ZBits),
    col("o_custkey") % (1L << ZBits))

  def zorderQ(s: SparkSession, dir: String): DataFrame = {
    val dest = s"$FixtureRoot/orders_zorder"
    val (aC, bC) = zCoords
    publishOnce(dest, dir) {
      Layout.writeZOrdered(
        load(s, dir, "orders")
          .withColumn("a", aC).withColumn("b", bC)
          .select("a", "b", "o_orderkey", "o_totalprice"),
        col("a"), col("b"), ZBits, ZGrid, dest)
    }
    val (aLo, aHi, bLo, bHi) = ZBox
    val buckets = Layout.bucketsForBox(aLo, aHi, bLo, bHi, ZBits, ZGrid)
    s.read.parquet(dest)
      .filter(col("zb").isin(buckets: _*))
      .filter(col("a").between(aLo, aHi) && col("b").between(bLo, bHi))
      .groupBy(col("zb").cast("long").as("zb"))
      .agg(count(lit(1)).as("n"),
        ExactAgg.moneySum(col("o_totalprice"), 100).as("sum_price"))
      .orderBy("zb")
  }

  private lazy val zorderSql = {
    val (aLo, aHi, bLo, bHi) = ZBox
    val buckets = Layout
      .bucketsForBox(aLo, aHi, bLo, bHi, ZBits, ZGrid).mkString(", ")
    s"""WITH o AS (SELECT
       |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
       |      % ${1L << ZBits} AS a,
       |    o_custkey % ${1L << ZBits} AS b, o_totalprice FROM orders),
       |z AS (SELECT a, b, o_totalprice,
       |        ${Layout.zBucketSql("a", "b", ZBits, ZGrid)} AS zb FROM o)
       |SELECT CAST(zb AS BIGINT) AS zb, CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("o_totalprice")} AS sum_price
       |FROM z
       |WHERE zb IN ($buckets)
       |  AND a BETWEEN $aLo AND $aHi AND b BETWEEN $bLo AND $bHi
       |GROUP BY zb ORDER BY zb""".stripMargin
  }

  // --------------------------------------------------------------- Q-skew
  // Salted skew join through the gate: events.user_id is a hot-key-shaped
  // fact side (10k rows over 150 users); the salted join must be EXACTLY
  // the plain join — which is what the oracle states. rowId salting
  // spreads even byte-identical duplicate fact rows.
  def skewQ(s: SparkSession, dir: String): DataFrame = {
    val dim = load(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("seg"))
    Skew.saltedJoin(
        load(s, dir, "events").select("event_id", "user_id"),
        dim, "user_id", salts = 8, rowId = Some("event_id"))
      .groupBy("seg").agg(count(lit(1)).as("n"))
      .orderBy("seg")
  }

  private val skewSql =
    """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------- Q-json
  // S4: JSON metadata extraction + aggregation.
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy("event_type")

  private val jsonSql =
    """SELECT event_type,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- Q-kv
  // S5: key=value sidecar parsing via str_to_map round-trip.
  def keyValue(s: SparkSession, dir: String): DataFrame = {
    val kv = concat(lit("user="), col("user_id"), lit("\n"),
      lit("type="), col("event_type"))
    load(s, dir, "events")
      .select(col("event_id"), str_to_map(kv, lit("\n"), lit("=")).as("m"))
      .select(col("event_id"), col("m")("user").as("user_str"),
        col("m")("type").as("type_str"))
      .orderBy("event_id")
  }

  private val keyValueSql =
    """SELECT event_id, CAST(user_id AS VARCHAR) AS user_str,
      |       event_type AS type_str
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------ Q-stream
  // S1/S2/§2.10: micro-batch file-source ingest (Trigger.AvailableNow).
  def stream(s: SparkSession, dir: String): DataFrame =
    Ingest.groupedCounts(s, dir, "events.parquet", "event_type")
      .orderBy("event_type")

  private val streamSql =
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1 ORDER BY 1"

  // -------------------------------------------------- Q-stream-enrich
  // Stream-static join (§2.10): the event stream enriched per micro-
  // batch with a broadcast customer dimension, aggregated by segment.
  // The stream side never shuffles for the lookup — the posture that
  // matters when events are the 100 TB side.
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    Ingest.enrichStream(s, dir, "events.parquet", dim,
        "user_id", "c_custkey", "c_mktsegment", "value")
      .orderBy("c_mktsegment")
  }

  private val streamEnrichSql =
    s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("value")} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------- Q-stream-dedup
  // Streaming exact dedup (2.10 + the ingestion-time dedup a training
  // pipeline runs before anything else): watermark-bounded state, first
  // sighting emits, duplicates drop. Oracle: DISTINCT over the same keys.
  def streamDedup(s: SparkSession, dir: String): DataFrame =
    Ingest.dedupStream(s, dir, "events.parquet", Seq("user_id", "event_type"))
      .orderBy("user_id", "event_type")

  private val streamDedupSql =
    "SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2"

  // ---------------------------------------------------- Q-stream-join
  // Stream-STREAM event-time interval join (§2.10): clicks joined to
  // the same user's errors from the preceding hour, both sides
  // watermarked so join state expires — the deployable two-stream
  // correlation shape (enrichment's stream-static join can't expire by
  // event time). Gate read-out aggregates the emitted pair stream; the
  // oracle runs the equivalent batch interval join.
  def streamJoin(s: SparkSession, dir: String): DataFrame =
    Ingest.intervalJoinStream(s, dir, "events.parquet", "user_id",
        leftType = "click", rightType = "error")
      .groupBy(col("l_key").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        ExactAgg.moneySum(col("r_value"), 100).as("sum_err"))
      .orderBy("user_id")

  private val streamJoinSql =
    s"""WITH c AS (SELECT event_id, user_id, ts FROM events
       |           WHERE event_type = 'click'),
       |e AS (SELECT user_id, ts, value FROM events
       |      WHERE event_type = 'error')
       |SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       |       ${moneySumSql("e.value")} AS sum_err
       |FROM c JOIN e ON c.user_id = e.user_id
       |  AND e.ts >= c.ts - INTERVAL 1 HOUR AND e.ts <= c.ts
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------- Q-stream-outer
  // LEFT OUTER stream-stream interval join (§2.10): clicks that saw NO
  // error in the preceding hour surface with null rights — the absence
  // signal an inner join can't give (alert on "no heartbeat followed").
  // Outer emission is watermark-gated (a no-match verdict is only final
  // once no future right can land in the window), so the fixture
  // appends one FLUSH sentinel per side beyond every real event time —
  // the standard drain-to-batch-parity move, filtered from the
  // read-out; Spark's no-data micro-batch then evicts and emits every
  // expired left row before AvailableNow terminates, making the result
  // equal the batch LEFT JOIN the oracle runs.
  private val StreamOuterDir = s"$FixtureRoot/stream_outer"

  /** events + one flush sentinel per side (user −1, max ts +
    * `horizonHours`) as a stream-source dir — shared by
    * q_stream_outer and q_tws_sessions (both need the watermark
    * pushed past every real event's expiry). The default +3 h covers
    * a single stateful operator (1 h join/session horizon + 1 h
    * watermark delay); CHAINED stateful queries need a deeper horizon
    * because each upstream stateful operator subtracts its own state
    * horizon from the watermark the next one sees (q_stream_joinagg
    * measured it: at +3 h the final watermark reaching the window agg
    * behind the interval join fell short of the last windows' ends at
    * sf0.1, withholding 2 of 301 rows). */
  private def ensureFlushFixture(s: SparkSession, dir: String,
                                 dest: String = StreamOuterDir,
                                 horizonHours: Int = 3,
                                 leftKey: Long = -1L,
                                 rightKey: Long = -1L): Unit =
    publishOnce(dest, dir) {
      val ev = load(s, dir, "events")
      ev.write.mode("overwrite").parquet(dest)
      def sentinel(t: String, k: Long) = ev.agg(max(col("ts")).as("ts0")).select(
        lit(-1L).cast(ev.schema("event_id").dataType).as("event_id"),
        (col("ts0") + expr(s"INTERVAL $horizonHours HOURS"))
          .cast(ev.schema("ts").dataType).as("ts"),
        lit(k).cast(ev.schema("user_id").dataType).as("user_id"),
        lit(t).as("event_type"),
        lit(0.0).cast(ev.schema("value").dataType).as("value"),
        lit(null).cast(ev.schema("props").dataType).as("props"))
      sentinel("click", leftKey).unionByName(sentinel("error", rightKey))
        .select(ev.columns.map(col): _*)
        .write.mode("append").parquet(dest)
    }

  def streamOuter(s: SparkSession, dir: String): DataFrame = {
    ensureFlushFixture(s, dir)
    Ingest.intervalJoinLeftOuterStream(s, StreamOuterDir, "*.parquet",
        "user_id", leftType = "click", rightType = "error")
      .filter(col("l_key") =!= -1L)
      .groupBy(col("l_key").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("r_value").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        ExactAgg.moneySum(col("r_value"), 100).as("sum_err"))
      .orderBy("user_id")
  }

  private val streamOuterSql =
    s"""WITH c AS (SELECT event_id, user_id, ts FROM events
       |           WHERE event_type = 'click'),
       |e AS (SELECT user_id AS eu, ts AS ets, value FROM events
       |      WHERE event_type = 'error')
       |SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(count(*) FILTER (eu IS NULL) AS BIGINT) AS n_unmatched,
       |       ${moneySumSql("value")} AS sum_err
       |FROM c LEFT JOIN e ON c.user_id = eu
       |  AND ets >= c.ts - INTERVAL 1 HOUR AND ets <= c.ts
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- Q-stream-swindow
  // STREAMING twin of q_swindow: the same built-in session_window
  // aggregation executed by the stateful streaming runtime — per-key
  // session state merged across micro-batches, append mode emitting
  // each session exactly once at watermark finalization. Shares
  // q_swindow's oracle verbatim (two runtimes, one truth — the
  // q_asof/q_asof_chunked pattern). The shared +3 h flush fixture
  // finalizes every real session (ends ≤ max+30 min < watermark
  // max+2 h); the sentinel's own session can never finalize, so only
  // the read-out filters its key.
  def streamSessionWindow(s: SparkSession, dir: String): DataFrame = {
    ensureFlushFixture(s, dir)
    Ingest.sessionWindowStream(s, StreamOuterDir, "*.parquet", "user_id")
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "session_start")
  }

  // ---------------------------------------------- Q-stream-semi
  // LEFT SEMI stream-stream interval join: "clicks preceded by at
  // least one error within the hour", each click at most once — no
  // pair multiplication (q_stream_join's inner form emits one row PER
  // error), no sentinel machinery (a never-matching left's silence IS
  // the semantics). Runs straight off the events table. ORACLE =
  // EXISTS with the same interval.
  def streamSemi(s: SparkSession, dir: String): DataFrame =
    Ingest.intervalJoinSemiStream(s, dir, "events.parquet",
        "user_id", leftType = "click", rightType = "error")
      .groupBy(col("l_key").as("user_id"))
      .agg(count(lit(1)).as("n_clicks_with_error"))
      .orderBy("user_id")

  private val streamSemiSql =
    """WITH c AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'click'),
      |e AS (SELECT user_id AS eu, ts AS ets FROM events
      |      WHERE event_type = 'error')
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks_with_error
      |FROM c
      |WHERE EXISTS (SELECT 1 FROM e WHERE eu = c.user_id
      |              AND ets >= c.ts - INTERVAL 1 HOUR AND ets <= c.ts)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- Q-stream-full
  // FULL OUTER stream-stream interval join, completing the matrix
  // (q_stream_join inner, q_stream_outer left): one pass surfaces
  // matched pairs, clicks with no error in the trailing hour (null
  // right), AND orphan errors covered by no click window (null left)
  // — the left-outer shape would need a second anti-join job for the
  // third class. Same flush-sentinel drain as q_stream_outer (the
  // fixture already appends one per side), so AvailableNow's no-data
  // batch evicts both sides' expired state and the result equals the
  // batch FULL JOIN the oracle runs. Grouping key is
  // coalesce(l_key, r_key): every row carries exactly one non-null
  // key for matched/left rows and r_key for orphans.
  def streamFull(s: SparkSession, dir: String): DataFrame = {
    ensureFlushFixture(s, dir)
    Ingest.intervalJoinFullOuterStream(s, StreamOuterDir, "*.parquet",
        "user_id", leftType = "click", rightType = "error")
      .withColumn("u", coalesce(col("l_key"), col("r_key")))
      .filter(col("u") =!= -1L)
      .groupBy(col("u").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("r_key").isNull, 1L).otherwise(0L)).as("n_left_only"),
        sum(when(col("l_id").isNull, 1L).otherwise(0L)).as("n_right_only"),
        ExactAgg.moneySum(col("r_value"), 100).as("sum_err"))
      .orderBy("user_id")
  }

  private val streamFullSql =
    s"""WITH c AS (SELECT event_id, user_id, ts FROM events
       |           WHERE event_type = 'click'),
       |e AS (SELECT user_id AS eu, ts AS ets, value FROM events
       |      WHERE event_type = 'error')
       |SELECT coalesce(c.user_id, eu) AS user_id,
       |       CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(count(*) FILTER (eu IS NULL) AS BIGINT) AS n_left_only,
       |       CAST(count(*) FILTER (c.user_id IS NULL) AS BIGINT)
       |         AS n_right_only,
       |       ${moneySumSql("value")} AS sum_err
       |FROM c FULL JOIN e ON c.user_id = eu
       |  AND ets >= c.ts - INTERVAL 1 HOUR AND ets <= c.ts
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------- Q-stream-joinagg
  // CHAINED stateful operators (Spark 4 multi-stateful support):
  // interval join → tumbling window aggregation in ONE streaming
  // query, state flowing join→window inside each micro-batch — the
  // shape that previously forced two queries and an intermediate
  // sink. Hour windows on the join's l_ts. Two sentinel lessons paid
  // for at sf0.1 and encoded here:
  //   1. Do NOT filter sentinels BETWEEN the stateful operators: a
  //      predicate there pushes through the equi-join to BOTH scan
  //      sides, below the watermark nodes — the sentinels get
  //      filtered at the source and never advance the watermark
  //      (measured: watermark stuck at real-max−1 h, last 2 windows
  //      withheld). Instead the sentinels carry DISTINCT keys
  //      (−1/−2), so they advance both watermarks but can never
  //      join, touch no window, and need no filter anywhere.
  //   2. +6 h horizon, not the shared +3 h: the chain spends 1 h
  //      watermark delay + 1 h join state horizon before the window
  //      agg sees a watermark, and the last hour-window's end sits
  //      up to 1 h past max ts. Hour (not day) windows for the same
  //      budget reason.
  // ORACLE = batch interval join + epoch-hour bucketing.
  private val StreamJoinAggDir = s"$FixtureRoot/stream_joinagg"

  def streamJoinAgg(s: SparkSession, dir: String): DataFrame = {
    ensureFlushFixture(s, dir, StreamJoinAggDir, horizonHours = 6,
      leftKey = -1L, rightKey = -2L)
    Ingest.intervalJoinWindowedStream(s, StreamJoinAggDir, "*.parquet",
        "user_id", leftType = "click", rightType = "error")
      .orderBy("ws")
  }

  private val streamJoinAggSql =
    s"""WITH c AS (SELECT user_id, epoch_us(ts) AS lus FROM events
       |           WHERE event_type = 'click'),
       |e AS (SELECT user_id AS eu, epoch_us(ts) AS rus, value FROM events
       |      WHERE event_type = 'error'),
       |j AS (SELECT lus, value FROM c JOIN e ON c.user_id = eu
       |      AND rus >= lus - 3600000000 AND rus <= lus)
       |SELECT (lus // 3600000000) * 3600000000 AS ws,
       |       (lus // 3600000000) * 3600000000 + 3600000000 AS we,
       |       CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
       |         AS cents
       |FROM j GROUP BY 1, 2 ORDER BY ws""".stripMargin

  // ----------------------------------------------- Q-stream-scd2
  // Streaming CDC → Type-2 history (Ingest.scd2Stream): q_scd2's fold
  // driven by the STREAMING runtime — three mtime-ordered batch files
  // (ts-tercile slices of events), one micro-batch each
  // (maxFilesPerTrigger=1), each shaped to a per-user "profile" row
  // (last event's type + value tier) and folded into the open/closed
  // dest layout at valid_from = batchId. What this gates beyond
  // q_scd2: batch-boundary determinism (the mtime order IS the
  // timeline), the O(open + delta) per-batch fold (closed rows never
  // re-enter the join), and the replay-safe two-phase commit. ORACLE =
  // the same three-batch fold unrolled as explicit CTEs with DIRECT
  // column comparison per batch (the q_bpe unrolled-loop pattern).
  private val StreamScd2Src = s"$FixtureRoot/stream_scd2_src"

  private def ensureScd2Fixture(s: SparkSession, dir: String): Unit =
    publishOnce(StreamScd2Src, dir) {
      import java.nio.file.{Files => JF, Paths, StandardCopyOption}
      import java.nio.file.attribute.FileTime
      val base = Paths.get(StreamScd2Src)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
      JF.createDirectories(base)
      val ev = load(s, dir, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      val mm = ev.agg(min("us"), max("us")).head()
      val (t0, t1) = (mm.getLong(0), mm.getLong(1))
      (0 until 3).foreach { b =>
        val stage = s"$StreamScd2Src/.stage_$b"
        ev.filter(expr(s"least((us - $t0) * 3 div ${t1 - t0 + 1}, 2) = $b"))
          .drop("us")
          .coalesce(1).write.parquet(stage)
        val parts = JF.list(Paths.get(stage)).iterator()
        val src = Iterator.continually(parts).takeWhile(_.hasNext)
          .map(_.next())
          .find(_.getFileName.toString.startsWith("part-")).get
        val tgt = Paths.get(s"$StreamScd2Src/batch$b.parquet")
        JF.move(src, tgt, StandardCopyOption.ATOMIC_MOVE)
        JF.setLastModifiedTime(tgt, FileTime.fromMillis(1000000L * (b + 1)))
        ()
      }
    }

  def streamScd2(s: SparkSession, dir: String): DataFrame = {
    ensureScd2Fixture(s, dir)
    val out = s"$FixtureRoot/stream_scd2_out"
    locally { // fresh deterministic run: wipe dest + checkpoint
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(out)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us").desc, col("event_id").desc)
    val shape: DataFrame => DataFrame = b =>
      b.withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id").as("k"), col("event_type").as("last_type"),
          expr("CAST(round(value * 100) AS BIGINT) div 2000").as("tier"))
    Ingest.scd2Stream(s, StreamScd2Src, "batch*.parquet",
        s"$out/dest", s"$out/chk", Seq("k"), shape)
      .select("k", "last_type", "tier", "valid_from", "valid_to")
      .orderBy("k", "valid_from")
  }

  private val streamScd2Sql = {
    def inc(b: Int) =
      s"""i$b AS (SELECT user_id AS k, event_type AS last_type,
         |             cents // 2000 AS tier
         |      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |                      ORDER BY us DESC, event_id DESC) AS rn
         |            FROM eb WHERE b = $b)
         |      WHERE rn = 1)""".stripMargin
    def step(prev: String, in: String, bts: Int, c: String, out: String) =
      s"""$c AS (SELECT $prev.k, $prev.last_type, $prev.tier,
         |             $prev.valid_from, CAST($bts AS BIGINT) AS valid_to
         |      FROM $prev JOIN $in ON $prev.k = $in.k
         |      WHERE $prev.last_type IS DISTINCT FROM $in.last_type
         |         OR $prev.tier IS DISTINCT FROM $in.tier),
         |$out AS (SELECT $prev.k, $prev.last_type, $prev.tier, $prev.valid_from
         |      FROM $prev LEFT JOIN $in ON $prev.k = $in.k
         |      WHERE $in.k IS NULL
         |         OR ($prev.last_type IS NOT DISTINCT FROM $in.last_type
         |             AND $prev.tier IS NOT DISTINCT FROM $in.tier)
         |      UNION ALL
         |      SELECT $in.k, $in.last_type, $in.tier, CAST($bts AS BIGINT)
         |      FROM $in LEFT JOIN $prev ON $in.k = $prev.k
         |      WHERE $prev.k IS NULL
         |         OR $prev.last_type IS DISTINCT FROM $in.last_type
         |         OR $prev.tier IS DISTINCT FROM $in.tier)""".stripMargin
    s"""WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
       |             CAST(round(value * 100) AS BIGINT) AS cents
       |           FROM events),
       |mm AS (SELECT min(us) AS t0, max(us) AS t1 FROM e),
       |eb AS (SELECT e.*, least((us - t0) * 3 // (t1 - t0 + 1), 2) AS b
       |       FROM e, mm),
       |${inc(0)}, ${inc(1)}, ${inc(2)},
       |o0 AS (SELECT k, last_type, tier, CAST(0 AS BIGINT) AS valid_from
       |       FROM i0),
       |${step("o0", "i1", 1, "c1", "o1")},
       |${step("o1", "i2", 2, "c2", "o2")}
       |SELECT k, last_type, tier, valid_from, valid_to FROM c1
       |UNION ALL
       |SELECT k, last_type, tier, valid_from, valid_to FROM c2
       |UNION ALL
       |SELECT k, last_type, tier, valid_from, CAST(NULL AS BIGINT) FROM o2
       |ORDER BY k, valid_from""".stripMargin
  }

  // ------------------------------------------------ Q-stream-snap
  // Streaming producer × snapshot layout (Ingest.snapshotStream): the
  // three mtime-ordered tercile batches (q_stream_scd2's fixture)
  // each commit as one snapshot VERSION — publish, then two appends by
  // manifest carry-forward, batchId riding the manifest as the
  // exactly-once tag. The gate aggregates EVERY version after the
  // stream finishes: v1/v2/v3 must be the exact cumulative prefixes
  // of the batch timeline — a replayed (duplicated) batch, a lost
  // append, or a version reading files outside its manifest diverges
  // row counts, cents sums, or user counts. ORACLE rebuilds the three
  // prefixes from the seed's tercile predicate.
  def streamSnapQ(s: SparkSession, dir: String): DataFrame = {
    ensureScd2Fixture(s, dir)
    val out = s"$FixtureRoot/stream_snap_out"
    locally { // fresh deterministic run: wipe dest + checkpoint
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(out)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
    }
    val dest = s"$out/dest"
    graft.streaming.Ingest.snapshotStream(s, StreamScd2Src,
      "batch*.parquet", dest, s"$out/chk",
      shape = b => b.select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents")))
    val S = graft.operators.Snapshot
    (1 to S.latestVersion(s, dest)).map { v =>
      S.readSnapshot(s, dest, v).agg(
        count(lit(1)).as("n_rows"),
        sum(col("cents")).as("cents"),
        countDistinct(col("user_id")).as("n_users"))
        .withColumn("version", lit(v))
        .select("version", "n_rows", "cents", "n_users")
    }.reduce(_.unionByName(_)).orderBy("version")
  }

  // ------------------------------------------------- Q-stream-mor
  // Streaming UPSERTS into a snapshot table (Ingest.morStream — the
  // merge-on-read producer): 3 time-ordered micro-batches each shaped
  // to the latest event per user (row_number by us desc, event_id
  // desc) and committed as an O(batch) MoR merge that reads NO base
  // file; reconcileEvery=2 runs the O(touched) reconcile mid-stream,
  // so the final read crosses BOTH a reconciled prefix and live
  // tombstones. Exactly-once rides batch tags like snapshotStream.
  // Because batches are time-split, the final per-user row is the
  // GLOBALLY latest event per user — which the ORACLE states directly
  // with one window over the whole events table (no batch replay
  // needed: the latest event lives in the last batch containing that
  // user, and later merges replace earlier rows).
  def streamMorQ(s: SparkSession, dir: String): DataFrame = {
    ensureScd2Fixture(s, dir)
    val out = s"$FixtureRoot/stream_mor_out"
    wipeDir(out)
    val dest = s"$out/dest"
    graft.streaming.Ingest.morStream(s, StreamScd2Src,
      "batch*.parquet", dest, s"$out/chk", keyCol = "user_id",
      shape = b => b
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("__rn", expr(
          "row_number() over (partition by user_id " +
            "order by us desc, event_id desc)"))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents")),
      reconcileEvery = 2)
      .orderBy("user_id")
  }

  private val streamMorSql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
      |             CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |r AS (SELECT user_id, event_id, cents,
      |             row_number() OVER (PARTITION BY user_id
      |               ORDER BY us DESC, event_id DESC) AS rn FROM e)
      |SELECT user_id, event_id, cents FROM r WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // -------------------------------------------------- Q-stream-mv
  // Materialized view maintained IN the stream (Ingest.mvStream): each
  // of the 3 time-split micro-batches appends to the source snapshot
  // table, then folds ONLY that delta into the per-user count+sum view
  // (MaterializedView.refreshSumView — manifest-CDC delta, touched view
  // files only). Append and refresh are independently replay-safe
  // (batch= tag / src_v tag), so a crash between them repairs on
  // replay. Final view must equal one full aggregate over events —
  // which is exactly what the ORACLE states.
  def streamMvQ(s: SparkSession, dir: String): DataFrame = {
    ensureScd2Fixture(s, dir)
    val out = s"$FixtureRoot/stream_mv_out"
    wipeDir(out)
    graft.streaming.Ingest.mvStream(s, StreamScd2Src,
      "batch*.parquet", s"$out/dest", s"$out/mv", s"$out/chk",
      keyCol = "user_id", valCol = "cents",
      shape = b => b.select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents")),
      viewFiles = 4)
      .orderBy("user_id")
  }

  private val streamMvSql =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  private val streamSnapSql =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
      |             CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |mm AS (SELECT min(us) AS t0, max(us) AS t1 FROM e),
      |eb AS (SELECT e.*, least((us - t0) * 3 // (t1 - t0 + 1), 2) AS b
      |       FROM e, mm)
      |SELECT v AS version,
      |       (SELECT CAST(count(*) AS BIGINT) FROM eb WHERE b < v)
      |         AS n_rows,
      |       (SELECT CAST(sum(cents) AS BIGINT) FROM eb WHERE b < v)
      |         AS cents,
      |       (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
      |        FROM eb WHERE b < v) AS n_users
      |FROM (VALUES (1), (2), (3)) AS t(v)
      |ORDER BY version""".stripMargin

  // ---------------------------------------------- Q-stream-debounce
  // transformWithState (Spark 4's arbitrary-state API) driving the
  // SEQUENTIAL last-KEPT debounce (streaming/Debounce): an event keeps
  // iff it lands > gap after the last KEPT one — a genuine per-key
  // recurrence no window can state (q_debounce's lag form is the
  // windowable approximation; this is the exact rule). Typed
  // ValueState + RocksDB provider + watermark-ordered pending buffer
  // (Funnelize's contract); the ORACLE replays the recurrence as a
  // RECURSIVE CTE stepping rank-by-rank — a completely different
  // execution of the same fold, so the stateful path itself is
  // hash-gated.
  private val DebounceUs = 5000000L // 5 s; shared with q_debounce's lag rule

  def streamDebounce(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Debounce.debouncedCounts(s, dir, "events.parquet",
        DebounceUs)
      .groupBy("event_type")
      .agg(sum(col("n_kept")).as("n_kept"),
        sum(col("n_dropped")).as("n_dropped"))
      .orderBy("event_type")

  private val streamDebounceSql =
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us,
       |         row_number() OVER (PARTITION BY user_id, event_type
       |                            ORDER BY epoch_us(ts)) AS rn
       |  FROM events),
       |r AS (
       |  SELECT user_id, event_type, rn, us AS last_kept,
       |         1 AS nk, 0 AS nd
       |  FROM e WHERE rn = 1
       |  UNION ALL
       |  SELECT x.user_id, x.event_type, x.rn,
       |         CASE WHEN x.us - r.last_kept > $DebounceUs
       |              THEN x.us ELSE r.last_kept END,
       |         r.nk + CASE WHEN x.us - r.last_kept > $DebounceUs
       |                     THEN 1 ELSE 0 END,
       |         r.nd + CASE WHEN x.us - r.last_kept > $DebounceUs
       |                     THEN 0 ELSE 1 END
       |  FROM r JOIN e x ON x.user_id = r.user_id
       |    AND x.event_type = r.event_type AND x.rn = r.rn + 1),
       |f AS (SELECT event_type, nk, nd,
       |             rn = max(rn) OVER (PARTITION BY user_id, event_type)
       |               AS is_final
       |      FROM r)
       |SELECT event_type, CAST(sum(nk) AS BIGINT) AS n_kept,
       |       CAST(sum(nd) AS BIGINT) AS n_dropped
       |FROM f WHERE is_final GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ Q-tws-sessions
  // Timer-driven PER-SESSION emission (streaming/SessionizeTws): each
  // closed session appends exactly once, final — including for users
  // who go QUIET, whose last session closes via an event-time TIMER
  // firing with no input rows for the key (the capability
  // flatMapGroupsWithState lacks; q_sessions works around it with
  // revisable per-user previews). Same flush-sentinel fixture as
  // q_stream_outer pushes the watermark past every real session's
  // seal point, so the emitted set equals the batch gaps-and-islands
  // construction the oracle states.
  private val TwsGapUs = 1800000000L // 30 min, matching q_sessions

  def twsSessions(s: SparkSession, dir: String): DataFrame = {
    ensureFlushFixture(s, dir)
    graft.streaming.SessionizeTws.closedSessions(
        s, StreamOuterDir, "*.parquet", TwsGapUs)
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "sid")
  }

  private val twsSessionsSql =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
       |m AS (SELECT user_id, us,
       |        CASE WHEN lag(us) OVER w IS NULL
       |               OR us - lag(us) OVER w > $TwsGapUs
       |             THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
       |i AS (SELECT user_id, us,
       |        sum(brk) OVER (PARTITION BY user_id ORDER BY us
       |                       ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM m)
       |SELECT user_id, CAST(sid AS INT) AS sid, min(us) AS start_us,
       |       max(us) AS end_us, CAST(count(*) AS BIGINT) AS n_events
       |FROM i GROUP BY 1, 2 ORDER BY user_id, sid""".stripMargin

  // -------------------------------------------------------- Q-multimodal
  // Opaque binary payload + typed metadata struct (deterministic fake
  // decode — see Multimodal.decodePartition for the real-codec seam).
  def multimodal(s: SparkSession, dir: String): DataFrame = {
    val withMeta = Multimodal.withPayload(load(s, dir, "documents"), "text")
      .withColumn("meta", Multimodal.fakeDecode(col("payload"), "image/png"))
    withMeta.select(col("doc_id"),
        col("meta")("media_type").as("media_type"),
        col("meta")("size_bytes").as("size_bytes"),
        col("meta")("width").as("width"),
        col("meta")("height").as("height"))
      .orderBy("doc_id")
  }

  private val multimodalSql =
    s"""SELECT doc_id, 'image/png' AS media_type,
       |       CAST(strlen(text) AS BIGINT) AS size_bytes,
       |       ${sqlSh32("text")} % 1920 + 1 AS width,
       |       ${sqlSh32("text")} % 1080 + 1 AS height
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- Q-align
  // W1: positional pairing of two independently-sorted row sets.
  def align(s: SparkSession, dir: String): DataFrame =
    Align.alignSorted(
        load(s, dir, "supplier").select("s_name"),
        load(s, dir, "part").select("p_name"),
        col("s_name"), col("p_name"))
      .orderBy("s_name")

  private val alignSql =
    """WITH l AS (SELECT s_name, row_number() OVER (ORDER BY s_name) AS rn FROM supplier),
      |r AS (SELECT p_name, row_number() OVER (ORDER BY p_name) AS rn FROM part)
      |SELECT l.s_name, r.p_name FROM l JOIN r USING (rn) ORDER BY l.s_name""".stripMargin

  // ------------------------------------------------------------ Q-upsert
  // K2: MERGE-style last-wins upsert of a modification batch.
  def upsert(s: SparkSession, dir: String): DataFrame = {
    val existing = load(s, dir, "customer").select(col("c_custkey"),
      col("c_mktsegment").as("seg"))
    val incoming = existing.filter(col("c_custkey") % 10 === 0)
      .withColumn("seg", lit("UPDATED"))
    Catalog.upsert(existing, incoming, Seq("c_custkey")).orderBy("c_custkey")
  }

  private val upsertSql =
    """SELECT c_custkey,
      |       CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS seg
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------- Q-windows
  // §2.10 watermark + event-time tumbling window over the stream.
  def windows(s: SparkSession, dir: String): DataFrame =
    Ingest.windowedCounts(s, dir, "events.parquet", "event_type")
      .orderBy("wstart", "event_type")

  private val windowsSql =
    """SELECT date_trunc('hour', ts) AS wstart, event_type,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------ Q-embdup
  // Embedding-cosine near-dup pairs via banded SRP-LSH (equi-join on
  // (band, bucket), never all pairs); the exact variant stays a
  // spec-level recall baseline. The oracle replays the identical
  // hyperplanes as SQL literals, so both engines bucket — and therefore
  // answer — identically.
  // SCALE NOTE (r7, from ScaleRehearsal): this FIXED banding (r = 4
  // bits/band) is sized for the gate corpus; its random-pair admission
  // rate bands·2^-r turns the candidate join quadratic once n outgrows
  // the 16-bucket band space (measured 158x wall for 10x data). The
  // parameters must be static here because the oracle replays them as
  // SQL literals. The shape that scales is Similarity.
  // embeddingNearDupAuto (r grows with log2 n → linear candidates,
  // documented recall trade), which is what ScaleRehearsal measures;
  // low-threshold similarity at scale belongs to the IVF index instead.
  // SEMANTICS NOTE (recorded per round-3 advice): since round 3 the
  // declared semantics are LSH (expected recall ≈ 1-(1-p⁴)⁸ ≈ 0.75 at
  // the 0.4 threshold), not exact all-pairs. Because the oracle shares
  // the banding scheme, this gate alone can't catch a bug in the scheme
  // itself — ground-truth anchoring lives in EmbeddingDedupSpec, which
  // asserts the bucketed/banded outputs are SUBSETS of the exact
  // operator's pairs with meaningful recall, and runs in `sbt test` on
  // every round.
  private val EmbDim = 64
  private val EmbPlanes = 32
  private val EmbBands = 8
  private val EmbThreshold = 0.4

  def embeddingDup(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupBucketed(load(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = EmbThreshold,
        nPlanes = EmbPlanes, dim = EmbDim, bands = EmbBands)
      .orderBy("id_a", "id_b")

  /** Oracle-side vector dot: same left-to-right double fold as
    * Similarity.dotPortable — bit-identical accumulation. */
  private def sqlEmbDot(x: String, y: String) =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(generate_series(1, $EmbDim),
       |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
       |  (acc, v) -> acc + v)""".stripMargin

  /** Oracle-side plane dot with the hyperplane embedded as a literal —
    * the sign (= bucket bit) matches Spark's exactly. */
  private def sqlPlaneDot(x: String, plane: Seq[Double]) = {
    val litArr = plane.mkString("[", ", ", "]")
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(generate_series(1, $EmbDim),
       |    i -> CAST($x[i] AS DOUBLE) * ($litArr)[i])),
       |  (acc, v) -> acc + v)""".stripMargin
  }

  /** CTE body (no WITH prefix) replaying the banded cosine-LSH pair
    * stage bit-for-bit: `scored(id_a, id_b, sim)` holds the candidates
    * with their exact rounded cosine. */
  private def embBandedPairsCtes(bands: Int): String = {
    def dot(x: String, y: String) = sqlEmbDot(x, y)
    def dotPlane(x: String, plane: Seq[Double]) = sqlPlaneDot(x, plane)
    val planes = Similarity.hyperplanes(EmbPlanes, EmbDim)
    val r = EmbPlanes / bands
    val bandSelects = (0 until bands).map { b =>
      val bucket = (0 until r).map { i =>
        s"CASE WHEN ${dotPlane("embedding", planes(b * r + i))} >= 0 THEN ${1L << i} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"SELECT $b AS band, $bucket AS bucket, vec_id AS id FROM embeddings"
    }.mkString("\nUNION ALL\n")
    s"""sigs AS (
       |$bandSelects),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b FROM sigs x
       |         JOIN sigs y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
       |scored AS (
       |  SELECT id_a, id_b,
       |         round(${dot("a.embedding", "b.embedding")} /
       |               (sqrt(${dot("a.embedding", "a.embedding")}) *
       |                sqrt(${dot("b.embedding", "b.embedding")})), 4) AS sim
       |  FROM cand JOIN embeddings a ON id_a = a.vec_id
       |            JOIN embeddings b ON id_b = b.vec_id)""".stripMargin
  }

  private def embeddingDupSqlFor(bands: Int): String =
    s"""WITH ${embBandedPairsCtes(bands)}
       |SELECT id_a, id_b, sim FROM scored
       |WHERE sim >= $EmbThreshold ORDER BY id_a, id_b""".stripMargin

  private val embeddingDupSql: String = embeddingDupSqlFor(EmbBands)

  // --------------------------------------------------------- Q-embdup-hi
  // The HIGH-RECALL banding of the same 32-plane pool: 16 bands × 2
  // planes (vs q_embdup's 8 × 4). Per-band recall at similarity p is
  // p^r, overall 1-(1-p^r)^bands — halving r from 4 to 2 moves the
  // 0.4-threshold recall from the measured 0.770 to >0.95 (the exact
  // parameter note the r11 scorecard recorded; this row PROVES it as a
  // gate config instead of leaving it a claim). Cost: 2-bit buckets
  // mean deeper buckets — ~4× the candidate volume — all of it killed
  // or kept by the exact-cosine verify, so precision stays 1.0. Scale
  // posture identical to q_embdup (pure (band, bucket) equi-join).
  def embeddingDupHi(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupBucketed(load(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = EmbThreshold,
        nPlanes = EmbPlanes, dim = EmbDim, bands = 16)
      .orderBy("id_a", "id_b")

  private val embeddingDupHiSql: String = embeddingDupSqlFor(16)

  // ------------------------------------------------------- Q-embdup-auto
  // The ADAPTIVE-r embedding near-dup — the 100×-safe shape ScaleRehearsal
  // measured (3.4×/4.7× wall at 10×/30× where fixed banding went 98.6×) —
  // as a DECLARED oracle row. r = smallest integer with 2^r·occupancy ≥ n
  // (clamped [4, rMax]) resolves per corpus; the oracle replays it with
  // the same integer search over count(*), and covers every possible r by
  // embedding each band's FULL rMax-plane pool as literals and masking
  // `i < r` at query time — sound because band pools are per-band seeded
  // streams whose first r planes are a stable prefix (hyperplanePool).
  // rMax=16 here bounds the oracle's literal budget: 2^16·8 rows ≈ 500k —
  // far beyond any gate corpus; the engine clamps identically.
  private val EmbAutoBands = 8
  private val EmbAutoOcc = 8
  private val EmbAutoRMax = 16

  def embeddingDupAuto(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupAuto(load(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = EmbThreshold, dim = EmbDim,
        bands = EmbAutoBands, targetOccupancy = EmbAutoOcc,
        rMax = EmbAutoRMax)
      .orderBy("id_a", "id_b")

  private val embeddingDupAutoSql: String = {
    val pool = Similarity.hyperplanePool(EmbAutoBands, EmbAutoRMax, EmbDim)
    val bandSelects = (0 until EmbAutoBands).map { b =>
      val bucket = (0 until EmbAutoRMax).map { i =>
        s"CASE WHEN $i < r AND ${sqlPlaneDot("embedding", pool(b)(i))} >= 0 THEN ${1L << i} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"SELECT $b AS band, $bucket AS bucket, vec_id AS id FROM embeddings, cfg"
    }.mkString("\nUNION ALL\n")
    s"""WITH cfg AS (
       |  SELECT coalesce(list_min(list_filter(generate_series(4, $EmbAutoRMax),
       |           i -> (1 << i) * $EmbAutoOcc >= n)), $EmbAutoRMax) AS r
       |  FROM (SELECT count(*) AS n FROM embeddings)),
       |sigs AS (
       |$bandSelects),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b FROM sigs x
       |         JOIN sigs y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
       |scored AS (
       |  SELECT id_a, id_b,
       |         round(${sqlEmbDot("a.embedding", "b.embedding")} /
       |               (sqrt(${sqlEmbDot("a.embedding", "a.embedding")}) *
       |                sqrt(${sqlEmbDot("b.embedding", "b.embedding")})), 4) AS sim
       |  FROM cand JOIN embeddings a ON id_a = a.vec_id
       |            JOIN embeddings b ON id_b = b.vec_id)
       |SELECT id_a, id_b, sim FROM scored
       |WHERE sim >= $EmbThreshold ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------ Q-embdup-probe
  // Multi-probe retrieval over the SAME occupancy-adaptive banding as
  // q_embdup_auto (Lv et al., Multi-Probe LSH): each row additionally
  // probes every bucket at Hamming distance 1 per band, recovering the
  // pairs one boundary hyperplane split — the r11 scorecard measured
  // the auto config at 0.21 recall vs exact cosine precisely because
  // deep occupancy-controlled buckets make per-band recall p^r
  // collapse; probing buys recall back (0.21 → 0.72 measured, same
  // table) while candidates stay occupancy-bounded (probe side fans
  // (r+1)×, build side unchanged, still a pure equi-join). ORACLE
  // replays the pool planes, the integer autoR resolution, the XOR
  // probe set, and the exact-cosine verify.
  def embeddingDupProbe(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupAutoProbed(load(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = EmbThreshold, dim = EmbDim,
        bands = EmbAutoBands, targetOccupancy = EmbAutoOcc,
        rMax = EmbAutoRMax)
      .orderBy("id_a", "id_b")

  private val embeddingDupProbeSql: String = {
    val pool = Similarity.hyperplanePool(EmbAutoBands, EmbAutoRMax, EmbDim)
    val bandSelects = (0 until EmbAutoBands).map { b =>
      val bucket = (0 until EmbAutoRMax).map { i =>
        s"CASE WHEN $i < r AND ${sqlPlaneDot("embedding", pool(b)(i))} >= 0 THEN ${1L << i} ELSE 0 END"
      }.mkString("(", " + ", ")")
      s"SELECT $b AS band, $bucket AS bucket, vec_id AS id FROM embeddings, cfg"
    }.mkString("\nUNION ALL\n")
    s"""WITH cfg AS (
       |  SELECT coalesce(list_min(list_filter(generate_series(4, $EmbAutoRMax),
       |           i -> (1 << i) * $EmbAutoOcc >= n)), $EmbAutoRMax) AS r
       |  FROM (SELECT count(*) AS n FROM embeddings)),
       |sigs AS (
       |$bandSelects),
       |probes AS (
       |  SELECT band, bucket, id FROM sigs
       |  UNION ALL
       |  SELECT band, unnest(list_transform(generate_series(0, r - 1),
       |           i -> xor(bucket, CAST(1 AS BIGINT) << i))) AS bucket, id
       |  FROM sigs, cfg),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b FROM probes x
       |         JOIN sigs y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
       |scored AS (
       |  SELECT id_a, id_b,
       |         round(${sqlEmbDot("a.embedding", "b.embedding")} /
       |               (sqrt(${sqlEmbDot("a.embedding", "a.embedding")}) *
       |                sqrt(${sqlEmbDot("b.embedding", "b.embedding")})), 4) AS sim
       |  FROM cand JOIN embeddings a ON id_a = a.vec_id
       |            JOIN embeddings b ON id_b = b.vec_id)
       |SELECT id_a, id_b, sim FROM scored
       |WHERE sim >= $EmbThreshold ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------ Q-embdup-exact
  // The exact embedding near-dup ground truth as its OWN declared query:
  // the DuckDB gate holds the truth independently of any banding scheme
  // (q_embdup's oracle must replay the engine's hyperplanes; this one
  // shares nothing with the LSH path). Bounded for scale on BOTH axes:
  // the input is a deterministic hash-rank stratum (fixed EmbExactCap
  // rows no matter how big the corpus — the same ranking replayed in the
  // oracle's ORDER BY ... LIMIT), and the pairwise compare is the
  // blocked all-pairs EQUI-join (triangle distribution), so the declared
  // plan has no cartesian/BNLJ node and survives 100×. The UNsampled
  // full-corpus exact compare remains the recall anchor in
  // EmbeddingDedupSpec (test scale only, by design).
  private val EmbExactCap = 300

  def embeddingDupExact(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupExactBlocked(
        Similarity.hashStratum(load(s, dir, "embeddings"), "vec_id", EmbExactCap),
        "vec_id", "embedding", threshold = EmbThreshold)
      .orderBy("id_a", "id_b")

  private val embeddingDupExactSql: String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(generate_series(1, $EmbDim),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""WITH s AS (SELECT vec_id, embedding FROM embeddings
       |           ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
       |           LIMIT $EmbExactCap),
       |n AS (SELECT vec_id, embedding,
       |        sqrt(${dot("embedding", "embedding")}) AS nm
       |      FROM s)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       round(${dot("a.embedding", "b.embedding")} / (a.nm * b.nm), 4) AS sim
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE round(${dot("a.embedding", "b.embedding")} / (a.nm * b.nm), 4) >= $EmbThreshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------------ Q-kmeans
  // Corpus clustering (Clustering.kmeansAssign): k-means over the
  // embedding table — the grouping stage of SemDeDup-style
  // cluster-then-curate and domain-mix weighting. Deterministic and
  // hash-replayable because every float hazard is engineered out:
  // vectors quantized to integral fixed-point (update sums are BIGINT —
  // order-independent), strided no-RNG init, argmin ties to the smaller
  // cid, empty cells carry forward. The oracle replays all
  // KmeansIters Lloyd iterations as chained CTEs over the same
  // arithmetic; output is pure integers so the hash can't catch float
  // dust. See Clustering.scala for the 100 TB shape (per iteration: one
  // shuffle-free assignment scan + a k·dim-bounded partial-agg update).
  private val KmeansK = 8
  private val KmeansIters = 3

  def kmeansQ(s: SparkSession, dir: String): DataFrame =
    Clustering.kmeansAssign(load(s, dir, "embeddings"), "vec_id",
        "embedding", k = KmeansK, iters = KmeansIters)
      .orderBy("id")

  /** The WITH-body replaying [[Clustering.kmeansAssign]] in DuckDB, up
    * through `asg` = the final (id, cid) assignment — shared by the
    * q_kmeans and q_semdedup oracles so the Lloyd replay can't drift
    * between them. */
  private def kmeansCtes: String = {
    val k = KmeansK
    // Fold-identical twins of Similarity.dotPortable / the driver-side
    // |c|² sum: left-to-right over positions.
    def dotD(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(generate_series(1, $EmbDim), i -> $x[i] * $y[i])),
         |  (acc, v) -> acc + v)""".stripMargin
    def nsq(c: String) = dotD(c, c)
    val iterCtes = (1 to KmeansIters).map { i =>
      val prev = s"c${i - 1}"
      s"""s$i AS (SELECT e.id, e.q, c.cid,
         |  row_number() OVER (PARTITION BY e.id
         |    ORDER BY ${dotD("e.vd", "c.c")} * -2.0 + c.nsq, c.cid) AS rn
         |  FROM emb e CROSS JOIN $prev c),
         |a$i AS (SELECT id, q, cid FROM s$i WHERE rn = 1),
         |u$i AS (SELECT cid, t.i AS pos, CAST(sum(q[t.i]) AS BIGINT) AS s,
         |          CAST(count(*) AS BIGINT) AS cnt
         |        FROM a$i CROSS JOIN
         |          (SELECT unnest(generate_series(1, $EmbDim)) AS i) t
         |        GROUP BY cid, t.i),
         |b$i AS (SELECT p.cid, coalesce(m.c, p.c) AS c
         |        FROM c${i - 1} p LEFT JOIN
         |          (SELECT cid, list(CAST(s AS DOUBLE) / cnt ORDER BY pos) AS c
         |           FROM u$i GROUP BY cid) m USING (cid)),
         |c$i AS (SELECT cid, c, ${nsq("c")} AS nsq FROM b$i)""".stripMargin
    }.mkString(",\n")
    s"""emb0 AS (SELECT vec_id AS id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS q
       |  FROM embeddings),
       |emb AS (SELECT id, q,
       |    list_transform(q, x -> CAST(x AS DOUBLE)) AS vd FROM emb0),
       |cfg AS (SELECT greatest(1, CAST(count(*) AS BIGINT) // $k) AS stride
       |        FROM emb),
       |i0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cid, vd AS c
       |       FROM emb, cfg WHERE id % stride = 0 ORDER BY id LIMIT $k),
       |c0 AS (SELECT cid, c, ${nsq("c")} AS nsq FROM i0),
       |$iterCtes,
       |fs AS (SELECT e.id, c.cid,
       |  row_number() OVER (PARTITION BY e.id
       |    ORDER BY ${dotD("e.vd", "c.c")} * -2.0 + c.nsq, c.cid) AS rn
       |  FROM emb e CROSS JOIN c$KmeansIters c),
       |asg AS (SELECT id, cid FROM fs WHERE rn = 1)""".stripMargin
  }

  private def kmeansSql: String =
    s"""WITH $kmeansCtes
       |SELECT id, cid AS cluster FROM asg ORDER BY id""".stripMargin

  // ----------------------------------------------------------- Q-semdedup
  // SemDeDup (Clustering.semDedup): cluster-conditional near-dup removal —
  // pairwise cosine runs only WITHIN each k-means cluster, and a vector is
  // dropped when a smaller-id cluster-mate scores ≥ threshold. The oracle
  // replays the full Lloyd chain (shared CTEs, kmeansCtes) and the pair
  // predicate with the fold-identical dot, then anti-joins the dropped
  // set. Engine-side the per-cluster triangle is spread over (cluster,
  // block, block) equi-join keys — no cartesian node; see semDedup's doc
  // for the Σ n_c² cost argument.
  def semDedupQ(s: SparkSession, dir: String): DataFrame =
    Clustering.semDedup(load(s, dir, "embeddings"), "vec_id", "embedding",
        k = KmeansK, iters = KmeansIters, threshold = EmbThreshold)
      .orderBy("id")

  private def semDedupSql: String =
    s"""WITH $kmeansCtes,
       |nv AS (SELECT a.id, a.cid, e.embedding,
       |         sqrt(${sqlEmbDot("e.embedding", "e.embedding")}) AS nm
       |       FROM asg a JOIN embeddings e ON a.id = e.vec_id),
       |dropped AS (SELECT DISTINCT b.id
       |  FROM nv a JOIN nv b ON a.cid = b.cid AND a.id < b.id
       |  WHERE round(${sqlEmbDot("a.embedding", "b.embedding")} /
       |              (a.nm * b.nm), 4) >= $EmbThreshold)
       |SELECT n.id, n.cid AS cluster FROM nv n
       |WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.id = n.id)
       |ORDER BY id""".stripMargin

  // --------------------------------------------------------- Q-semdedup-x
  // SemDeDup's contract gap, closed by composition: the r11 scorecard
  // measured cluster-restricted drops at 0.417 recall vs the GLOBAL
  // exact drop set — cross-cluster duplicates are outside SemDeDup's
  // contract by design (Abbas et al. prune within k-means cells). This
  // config pairs it with the high-recall banded pair stage (the
  // q_embdup_hi banding, measured recall 1.000 on this corpus): drops =
  // cluster-local SemDeDup drops ∪ {higher id of every banded pair} —
  // coverage WITHOUT all-pairs cost (Σ n_c² within cells + the
  // (band, bucket) equi-join across them). ORACLE composes both drop
  // sets from the shared CTE generators and double-anti-joins.
  def semDedupXQ(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    val local = Clustering.semDedup(emb, "vec_id", "embedding",
      k = KmeansK, iters = KmeansIters, threshold = EmbThreshold)
    val crossDrops = Similarity.embeddingNearDupBucketed(emb, "vec_id",
        "embedding", threshold = EmbThreshold, nPlanes = EmbPlanes,
        dim = EmbDim, bands = 16)
      .select(col("id_b").as("id")).distinct()
    local.join(crossDrops, Seq("id"), "left_anti").orderBy("id")
  }

  private def semDedupXSql: String =
    s"""WITH $kmeansCtes,
       |nv AS (SELECT a.id, a.cid, e.embedding,
       |         sqrt(${sqlEmbDot("e.embedding", "e.embedding")}) AS nm
       |       FROM asg a JOIN embeddings e ON a.id = e.vec_id),
       |dropped AS (SELECT DISTINCT b.id
       |  FROM nv a JOIN nv b ON a.cid = b.cid AND a.id < b.id
       |  WHERE round(${sqlEmbDot("a.embedding", "b.embedding")} /
       |              (a.nm * b.nm), 4) >= $EmbThreshold),
       |${embBandedPairsCtes(16)},
       |xdrop AS (SELECT DISTINCT id_b AS id FROM scored
       |          WHERE sim >= $EmbThreshold)
       |SELECT n.id, n.cid AS cluster FROM nv n
       |WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.id = n.id)
       |  AND NOT EXISTS (SELECT 1 FROM xdrop x WHERE x.id = n.id)
       |ORDER BY id""".stripMargin

  // ---------------------------------------------------------- Q-sessions
  // §2.10 custom streaming state: gap sessionization per user via
  // flatMapGroupsWithState; oracle = the equivalent batch window query.
  private val SessionGapNanos = 30L * 60 * 1000000000L

  def sessions(s: SparkSession, dir: String): DataFrame =
    Sessionize.userSessions(s, dir, "events.parquet", SessionGapNanos)
      .orderBy("user_id")

  private val sessionsSql =
    """WITH e AS (
      |  SELECT user_id,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                   > INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events)
      |SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions,
      |       CAST(count(*) AS BIGINT) AS n_events
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------- Q-design-report
  // J9 + vocab dim join: every leaf's root ancestor labeled through a
  // broadcast dimension — the get-experimental-design-tsv analog.
  def designReport(s: SparkSession, dir: String): DataFrame =
    Lineage.roots(edgeTable(s, dir))
      .filter(col("node").startsWith("C"))
      .withColumn("rk", expr("CAST(substring(root, 2) AS INT)"))
      .join(broadcast(load(s, dir, "region")), col("rk") === col("r_regionkey"))
      .select(col("node"), col("r_name").as("organism"), col("depth"))
      .orderBy("node")

  private val designReportSql =
    s"""WITH RECURSIVE $edgeSql
       |SELECT node, r_name AS organism, depth
       |FROM walk JOIN region ON CAST(substring(anc, 2) AS INTEGER) = r_regionkey
       |WHERE anc NOT IN (SELECT child FROM edges) AND node LIKE 'C%'
       |ORDER BY node""".stripMargin

  // ------------------------------------------------------------ Q-curate
  // Capstone: full training-data curation — quality gate → language gate
  // → exact dedup → near-dup canonicalization — one composed pipeline,
  // one recursive oracle.
  private val CurateMinTokens = 20L

  def curate(s: SparkSession, dir: String): DataFrame =
    graft.pipelines.CurationPipeline.curate(
        load(s, dir, "documents"), "doc_id", "text", LangStops,
        minTokens = CurateMinTokens, keepLang = "en", threshold = 0.8,
        maxDf = ShMaxDf)
      .orderBy("doc_id")

  private val curateSql: String = {
    val scoreExprs = LangStops.map { case (lang, words) =>
      val l = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_filter(tk, t -> list_contains($l, t))) AS BIGINT) AS score_$lang"
    }.mkString(",\n  ")
    s"""WITH RECURSIVE ann0 AS (
       |  SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> len(t) > 0) AS tk
       |  FROM documents),
       |ann AS (
       |  SELECT doc_id, text, CAST(len(tk) AS BIGINT) AS n_tokens, $scoreExprs
       |  FROM ann0),
       |gated AS (
       |  SELECT doc_id, text, n_tokens,
       |    CASE WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
       |         WHEN score_de >= score_fr THEN 'de' ELSE 'fr' END AS lang_pred
       |  FROM ann
       |  WHERE n_tokens >= $CurateMinTokens),
       |en AS (SELECT * FROM gated WHERE lang_pred = 'en'),
       |keepers AS (SELECT min(doc_id) AS doc_id FROM en GROUP BY sha256(text)),
       |exact_kept AS (SELECT e.* FROM en e JOIN keepers USING (doc_id)),
       |${minhashPairsBodyFrom("exact_kept", "doc_id")},
       |edges2 AS (SELECT id_a AS u, id_b AS v FROM pairs
       |           UNION SELECT id_b, id_a FROM pairs),
       |reach AS (SELECT u, v FROM edges2
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges2 e ON r.v = e.u),
       |losers AS (SELECT u AS doc_id FROM reach GROUP BY u
       |           HAVING least(u, min(v)) <> u)
       |SELECT doc_id, n_tokens, lang_pred FROM exact_kept
       |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- Q-mtb
  // MTB getpbmc composition (register-mtb-data-dropbox.py:669-724):
  // property-filtered descendant walk (≤2 levels) + first-child resolve +
  // 0/>1-found guards on the error channel, over the customer→nation→
  // region DAG (regions as patients, nations carry the tissue property).
  def mtb(s: SparkSession, dir: String): DataFrame = {
    import graft.pipelines.MtbPipeline
    val props = load(s, dir, "nation").select(
      concat(lit("N"), col("n_nationkey")).as("node"),
      when(col("n_nationkey") % 5 === 2, "PBMC").otherwise("TUMOR").as("tissue"))
    val patients = load(s, dir, "region")
      .select(concat(lit("R"), col("r_regionkey")).as("node"))
    MtbPipeline.pbmcTestSamples(edgeTable(s, dir), props, patients, "tissue")
      .select(col("start"), col("pbmc"), col("test_sample"), col("n_pbmc"),
        array_join(sort_array(col("__errors")), ",").as("errs"))
      .orderBy("start")
  }

  private val mtbSql =
    s"""WITH RECURSIVE $edgeSql,
       |pat AS (SELECT 'R' || CAST(r_regionkey AS VARCHAR) AS start FROM region),
       |props AS (SELECT 'N' || CAST(n_nationkey AS VARCHAR) AS node,
       |  CASE WHEN n_nationkey % 5 = 2 THEN 'PBMC' ELSE 'TUMOR' END AS tissue
       |  FROM nation),
       |down AS (SELECT parent AS c, child AS p FROM edges),
       |dwalk AS (
       |  SELECT start AS node, p AS anc, CAST(1 AS BIGINT) AS depth
       |  FROM pat JOIN down ON start = c
       |  UNION ALL
       |  SELECT w.node, e.p, w.depth + 1 FROM dwalk w JOIN down e ON w.anc = e.c
       |  WHERE w.depth < 2),
       |hits AS (SELECT DISTINCT w.node AS start, w.anc AS pbmc
       |  FROM dwalk w JOIN props ON w.anc = props.node WHERE props.tissue = 'PBMC'),
       |fc AS (SELECT parent AS pbmc, min(child) AS test_sample FROM edges GROUP BY 1),
       |per AS (SELECT start, CAST(count(*) AS BIGINT) AS n_pbmc,
       |    min(hits.pbmc) AS pbmc, min(fc.test_sample) AS test_sample
       |  FROM hits LEFT JOIN fc ON hits.pbmc = fc.pbmc GROUP BY start)
       |SELECT p.start, per.pbmc, per.test_sample,
       |  COALESCE(per.n_pbmc, 0) AS n_pbmc,
       |  CASE WHEN COALESCE(per.n_pbmc, 0) = 0 THEN 'PBMC_NOT_FOUND'
       |       WHEN per.n_pbmc > 1 THEN 'MANY_PBMC' ELSE '' END AS errs
       |FROM pat p LEFT JOIN per ON p.start = per.start
       |ORDER BY p.start""".stripMargin

  // Note on the walk CTE name: DuckDB scopes WITH RECURSIVE per statement;
  // `dwalk` avoids clashing with lineageSql's `walk` if ever composed.

  // ------------------------------------------------------------ Q-imaging
  // Imaging metadata flow (register-omero.py:181-268): dynamic-column
  // header normalization, per-row property bag with '*' placeholders,
  // row-level required check on the error channel, and the int/float
  // coercion probes of getValidationMap — over `part` dressed up as a
  // metadata_table.tsv (string-typed, spaces, placeholders).
  def imaging(s: SparkSession, dir: String): DataFrame = {
    import graft.pipelines.ImagingPipeline
    // spread: the per-property regex kind-detection is scan-stage compute,
    // 1-task on a single-split file otherwise (r17)
    val meta = graft.core.Tables.spread(load(s, dir, "part")).select(
      col("p_partkey").cast("string").as("SAMPLE NUM"),
      col("p_retailprice").cast("string").as("PRICE"),
      col("p_type").as("IMAGED TISSUE"),
      when(col("p_partkey") % 7 === 0, lit("*")).otherwise(col("p_brand"))
        .as("IMAGING MODALITY"),
      concat(lit("./img/run"), pmod(col("p_partkey"), lit(10)).cast("string"))
        .as("IMAGE DATA PATH"))
    val bagged = ImagingPipeline.tagMissingRequired(
      ImagingPipeline.propertyBag(ImagingPipeline.normalizeHeader(meta)),
      required = Seq("IMAGING_MODALITY"))
    ImagingPipeline.withValidationBag(bagged)
      .select(element_at(col("props"), "SAMPLE_NUM").cast("long").as("id"),
        size(col("__errors")).cast("long").as("n_errors"),
        explode(col("vprops")).as(Seq("prop", "tv")))
      .select(col("id"), col("prop"), col("tv.kind").as("kind"),
        col("tv.int_val").as("int_val"), col("tv.float_val").as("float_val"),
        col("tv.str_val").as("str_val"), col("n_errors"))
      .orderBy("id", "prop")
  }

  private val imagingSql = {
    val intRx = "^[+-]?[0-9]+$"
    val floatRx = "^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$"
    s"""WITH base AS (
       |  SELECT p_partkey,
       |    CAST(p_partkey AS VARCHAR) AS sample_num,
       |    CAST(p_retailprice AS VARCHAR) AS price,
       |    REPLACE(p_type, ' ', '_') AS imaged_tissue,
       |    CASE WHEN p_partkey % 7 = 0 THEN '*'
       |         ELSE REPLACE(p_brand, ' ', '_') END AS imaging_modality,
       |    './img/run' || CAST(p_partkey % 10 AS VARCHAR) AS image_data_path
       |  FROM part),
       |kv AS (
       |  SELECT p_partkey, 'sample_num' AS prop, sample_num AS v FROM base
       |  UNION ALL SELECT p_partkey, 'price', price FROM base
       |  UNION ALL SELECT p_partkey, 'imaged_tissue', imaged_tissue FROM base
       |  UNION ALL SELECT p_partkey, 'imaging_modality', imaging_modality FROM base
       |  UNION ALL SELECT p_partkey, 'image_data_path', image_data_path FROM base),
       |err AS (SELECT p_partkey,
       |  CASE WHEN imaging_modality = '*' THEN 1 ELSE 0 END AS ne FROM base)
       |SELECT kv.p_partkey AS id, kv.prop,
       |  CASE WHEN regexp_matches(v, '$intRx') THEN 'int'
       |       WHEN regexp_matches(v, '$floatRx') THEN 'float'
       |       ELSE 'string' END AS kind,
       |  CASE WHEN regexp_matches(v, '$intRx')
       |       THEN TRY_CAST(v AS BIGINT) END AS int_val,
       |  CASE WHEN NOT regexp_matches(v, '$intRx')
       |        AND regexp_matches(v, '$floatRx')
       |       THEN TRY_CAST(v AS DOUBLE) END AS float_val,
       |  CASE WHEN NOT regexp_matches(v, '$intRx')
       |        AND NOT regexp_matches(v, '$floatRx')
       |       THEN v END AS str_val,
       |  CAST(err.ne AS BIGINT) AS n_errors
       |FROM kv JOIN err ON kv.p_partkey = err.p_partkey
       |WHERE v <> '*'
       |ORDER BY id, prop""".stripMargin
  }

  // ---------------------------------------------------------------- Q-vcf
  // S6/F6/F5/J2: VCF lines rendered from `part`, driven through the real
  // parse stage (header skip, fixed-column split, INFO map, ANN structs),
  // annotation exploded, impact-filtered, protein change normalized to
  // 1-letter form. The oracle computes the expected fields directly from
  // the base columns — the gate checks that parse inverts render.
  def vcf(s: SparkSession, dir: String): DataFrame = {
    val part = load(s, dir, "part")
    val impact = when(col("p_partkey") % 3 === 0, "HIGH").otherwise("MODERATE")
    val ann = concat(lit("G|missense_variant|"), impact,
      lit("|GENE"), pmod(col("p_partkey"), lit(100)).cast("string"),
      lit("|gid|transcript|ft1|protein_coding|1|c.1A>G|"),
      lit("p.Val"), col("p_partkey").cast("string"), lit("Glu"))
    val line = concat_ws("\t",
      concat(lit("chr"), pmod(col("p_partkey"), lit(5)).cast("string")),
      col("p_partkey").cast("string"), lit("."), lit("A"), lit("G"),
      lit("50"), lit("PASS"),
      concat(lit("DP="), col("p_size").cast("string"), lit(";ANN="), ann))
    val header = s.range(1)
      .select(lit("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO").as("value"))
    // spread: render + regex parse is scan-stage compute, 1-task on a
    // single-split file otherwise (r17; the parser is header-position-
    // independent — it filters on the '#' prefix)
    Parsers.parseVcfLines(
      graft.core.Tables.spread(part.select(line.as("value")))
        .unionByName(header))
      .select(col("chrom"), col("pos"), explode(col("ann")).as("a"))
      .select(col("chrom"), col("pos"),
        col("a.gene").as("gene"), col("a.impact").as("impact"),
        AminoAcid.normalizeProteinChange(col("a.hgvs_p")).as("aa"),
        col("a.rank").cast("long").as("rnk"))
      .filter(col("impact") === "HIGH")
      .orderBy("pos")
  }

  private val vcfSql =
    """SELECT 'chr' || CAST(p_partkey % 5 AS VARCHAR) AS chrom,
      |       p_partkey AS pos,
      |       'GENE' || CAST(p_partkey % 100 AS VARCHAR) AS gene,
      |       'HIGH' AS impact,
      |       'V' || CAST(p_partkey AS VARCHAR) || 'E' AS aa,
      |       CAST(1 AS BIGINT) AS rnk
      |FROM part WHERE p_partkey % 3 = 0 ORDER BY pos""".stripMargin

  // ------------------------------------------------------------ Q-manifest
  // S9/A8/P2: sha256 manifest lines rendered (a few deliberately
  // corrupted), parsed back, sliced to the docs/ subtree, validated
  // against recomputed content hashes.
  def manifest(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val corrupt = col("doc_id") % 97 === 0
    val sha = when(corrupt, sha2(concat(col("text"), lit("x")), 256))
      .otherwise(sha2(col("text"), 256))
    val line = concat(sha, lit(" *docs/d"), col("doc_id").cast("string"), lit(".txt"))
    val sliced = Parsers.parseChecksumLines(docs.select(line.as("value")))
      .filter(col("relpath").startsWith("docs/"))
      .withColumn("doc_id",
        regexp_extract(col("relpath"), "docs/d([0-9]+)\\.txt", 1).cast("long"))
    sliced
      .join(docs.select(col("doc_id"), sha2(col("text"), 256).as("actual")),
        Seq("doc_id"))
      .select(col("doc_id"), col("relpath"),
        (col("sha256") === col("actual")).cast("int").as("ok"))
      .orderBy("doc_id")
  }

  private val manifestSql =
    """SELECT doc_id, 'docs/d' || CAST(doc_id AS VARCHAR) || '.txt' AS relpath,
      |       CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 1 END AS ok
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ Q-stempair
  // J12: raw↔mzML stem pairing with completeness flags (every 10th order
  // is missing its mzML mate).
  def stemPair(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    val raw = concat(lit("run"), col("o_orderkey").cast("string"), lit(".raw"))
    val mz = when(col("o_orderkey") % 10 =!= 0,
      concat(lit("run"), col("o_orderkey").cast("string"), lit(".mzML")))
    val files = o.select(explode(array(raw, mz)).as("path"))
      .filter(col("path").isNotNull)
    Align.pairByStem(files, "path")
      .select(col("stem"), array_join(col("paths"), ",").as("paths"),
        col("n"), col("complete").cast("int").as("complete"))
      .orderBy("stem")
  }

  private val stemPairSql =
    """WITH files AS (
      |  SELECT 'run' || CAST(o_orderkey AS VARCHAR) || '.raw' AS path FROM orders
      |  UNION ALL
      |  SELECT 'run' || CAST(o_orderkey AS VARCHAR) || '.mzML' FROM orders
      |  WHERE o_orderkey % 10 <> 0)
      |SELECT regexp_replace(path, '\.[^./]+$', '') AS stem,
      |       array_to_string(list_sort(list(path)), ',') AS paths,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CASE WHEN count(*) = 2 THEN 1 ELSE 0 END AS complete
      |FROM files GROUP BY 1 ORDER BY stem""".stripMargin

  // -------------------------------------------------------------- Q-latest
  // W3: latest pick by a sortable column (TakeOrdered, no full sort).
  def latestQ(s: SparkSession, dir: String): DataFrame =
    Align.latest(
      load(s, dir, "events").select("event_id", "event_type", "user_id"),
      col("event_id"))

  private val latestSql =
    """SELECT event_id, event_type, user_id FROM events
      |ORDER BY event_id DESC LIMIT 1""".stripMargin

  // -------------------------------------------------------------- Q-mapops
  // F11/P6/F7: property-map munging — blacklist drop, placeholder drop,
  // key lowering, value trimming, URL-decoded values — exploded back to
  // rows for the gate.
  def mapOpsQ(s: SparkSession, dir: String): DataFrame = {
    val m = map(
      lit("USER"), col("user_id").cast("string"),
      lit("TYPE"), col("event_type"),
      lit("NOTE"), lit("*"),
      lit("SECRET"), lit("hidden"),
      lit("FILE"), url_decode(concat(lit("report%20"), col("event_type"), lit(".pdf"))),
      lit("PAD"), lit(" v "))
    val cleaned = MapOps.trimValues(MapOps.lowerKeys(
      MapOps.dropPlaceholders(MapOps.dropKeys(m, Seq("SECRET")))))
    load(s, dir, "events")
      .select(col("event_id"), explode(cleaned).as(Seq("k", "v")))
      .orderBy("event_id", "k")
  }

  private val mapOpsSql =
    """WITH kv AS (
      |  SELECT event_id, 'user' AS k, CAST(user_id AS VARCHAR) AS v FROM events
      |  UNION ALL SELECT event_id, 'type', event_type FROM events
      |  UNION ALL SELECT event_id, 'file', 'report ' || event_type || '.pdf' FROM events
      |  UNION ALL SELECT event_id, 'pad', 'v' FROM events)
      |SELECT event_id, k, v FROM kv ORDER BY event_id, k""".stripMargin

  // ----------------------------------------------------------------- Q-xml
  // F10/K8: per-row XML element rendering with attribute/body escaping.
  def xmlQ(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "nation")
      .select(col("n_nationkey"),
        Sinks.xmlElement("note",
          Seq("id" -> concat(col("n_name"), lit("&CO")),
            "region" -> col("n_regionkey").cast("string")),
          concat(lit("size<"), col("n_nationkey").cast("string"))).as("xml"))
      .orderBy("n_nationkey")

  private val xmlSql = {
    def esc(e: String) =
      s"replace(replace(replace($e, '&', '&amp;'), '<', '&lt;'), '\"', '&quot;')"
    s"""SELECT n_nationkey,
       |  '<note id="' || ${esc("n_name || '&CO'")} ||
       |  '" region="' || ${esc("CAST(n_regionkey AS VARCHAR)")} ||
       |  '">' || ${esc("'size<' || CAST(n_nationkey AS VARCHAR)")} || '</note>' AS xml
       |FROM nation ORDER BY n_nationkey""".stripMargin
  }

  // --------------------------------------------------------------- Q-props
  // §1.3 Q_PROPERTIES parse direction: the factor XML the reference
  // templates per sample (etl_msconvert.py:528) is built per-row from
  // customer columns, parsed BACK through from_xml into
  // array<struct<ftype,label,value,unit>>, and exploded. The oracle
  // builds the IDENTICAL strings and re-parses them with an independent
  // regexp parser — two different XML readers must agree attribute by
  // attribute. Every 10th customer carries an empty <qfactors>, proving
  // the factor-less row survives (explode_outer) with NULL fields.
  private val PropsDecl =
    "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"

  def propsQ(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "customer")
    val xml = when(pmod(col("c_custkey"), lit(10)) === 0,
        lit(PropsDecl + " <qproperties> <qfactors> </qfactors> </qproperties>"))
      .otherwise(format_string(
        PropsDecl + " <qproperties> <qfactors>" +
          " <qcategorical label=\"segment\" value=\"%s\"/>" +
          " <qcategorical label=\"nation\" value=\"%d\"/>" +
          " <qcontinous label=\"dose\" value=\"%d\" unit=\"mg\"/>" +
          " </qfactors> </qproperties>",
        col("c_mktsegment"), col("c_nationkey"), pmod(col("c_custkey"), lit(97))))
    c.select(col("c_custkey"), xml.as("props"))
      .select(col("c_custkey"),
        explode_outer(graft.functions.FactorXml.parseFactors(col("props"))).as("f"))
      .select(col("c_custkey"), col("f.ftype").as("ftype"),
        col("f.label").as("label"), col("f.value").as("value"),
        col("f.unit").as("unit"))
      .orderBy("c_custkey", "label")
  }

  private val propsSql = {
    s"""WITH x AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 10 = 0 THEN
       |      '$PropsDecl <qproperties> <qfactors> </qfactors> </qproperties>'
       |    ELSE
       |      '$PropsDecl <qproperties> <qfactors>'
       |      || ' <qcategorical label="segment" value="' || c_mktsegment || '"/>'
       |      || ' <qcategorical label="nation" value="' || CAST(c_nationkey AS VARCHAR) || '"/>'
       |      || ' <qcontinous label="dose" value="' || CAST(c_custkey % 97 AS VARCHAR) || '" unit="mg"/>'
       |      || ' </qfactors> </qproperties>'
       |    END AS props
       |  FROM customer),
       |cat AS (
       |  SELECT c_custkey,
       |    unnest(regexp_extract_all(props, '<qcategorical label="[^"]*" value="[^"]*"/>')) AS el
       |  FROM x),
       |cont AS (
       |  SELECT c_custkey,
       |    unnest(regexp_extract_all(props, '<qcontinous label="[^"]*" value="[^"]*" unit="[^"]*"/>')) AS el
       |  FROM x)
       |SELECT c_custkey, 'categorical' AS ftype,
       |       regexp_extract(el, 'label="([^"]*)"', 1) AS label,
       |       regexp_extract(el, 'value="([^"]*)"', 1) AS value,
       |       CAST(NULL AS VARCHAR) AS unit
       |FROM cat
       |UNION ALL
       |SELECT c_custkey, 'continuous' AS ftype,
       |       regexp_extract(el, 'label="([^"]*)"', 1) AS label,
       |       regexp_extract(el, 'value="([^"]*)"', 1) AS value,
       |       regexp_extract(el, 'unit="([^"]*)"', 1) AS unit
       |FROM cont
       |UNION ALL
       |SELECT c_custkey, NULL, NULL, NULL, NULL FROM x
       |WHERE props NOT LIKE '%<qcategorical%' AND props NOT LIKE '%<qcontinous%'
       |ORDER BY c_custkey, label NULLS FIRST""".stripMargin
  }

  // --------------------------------------------------------------- Q-dicom
  // S11 decode through the gate: one synthetic DICOM file per nation is
  // rendered (Dicom.render, pure-JVM Explicit-VR-LE bytes), scanned via
  // binaryFile, parsed back by Dicom.dicomTags, and the anonymization-
  // dictionary fields compared to an oracle that derives the SAME values
  // straight from the seed table — so the byte walk (preamble, VR forms,
  // even-length padding, trailing-pad strip) is what the hash checks.
  // The 25-row driver render is a bounded fixture write, same policy as
  // q_binary's dropbox tree.
  def dicomQ(s: SparkSession, dir: String): DataFrame = {
    val dest = s"$FixtureRoot/dicom"
    publishOnce(dest, dir) {
      val seed = load(s, dir, "nation")
        .select("n_nationkey", "n_name").collect()
      val d = java.nio.file.Paths.get(dest)
      java.nio.file.Files.createDirectories(d)
      seed.foreach { r =>
        val key = r.getInt(0)
        val bytes = graft.sources.Dicom.render(Seq(
          (0x0008, 0x0020, "DA", f"202401${key % 28 + 1}%02d"), // StudyDate
          (0x0008, 0x0060, "CS", "MR"),                         // kept, not extracted
          (0x0010, 0x0010, "PN", r.getString(1)),               // PatientsName
          (0x0010, 0x0020, "LO", s"P$key")))                    // PatientID
        java.nio.file.Files.write(d.resolve(s"d$key.dcm"), bytes)
        ()
      }
    }
    s.read.format("binaryFile").option("pathGlobFilter", "*.dcm").load(dest)
      .select(
        regexp_extract(col("path"), "d(\\d+)\\.dcm", 1).cast("bigint").as("code"),
        explode(graft.sources.Dicom.dicomTags(col("content"))).as("t"))
      .filter(col("t.keyword").isNotNull)
      .select(col("code"), col("t.keyword").as("keyword"),
        col("t.value").as("value"))
      .orderBy("code", "keyword")
  }

  private val dicomSql =
    """WITH f AS (
      |  SELECT n_nationkey AS code, 'PatientsName' AS keyword, n_name AS value
      |  FROM nation
      |  UNION ALL
      |  SELECT n_nationkey, 'PatientID', 'P' || CAST(n_nationkey AS VARCHAR)
      |  FROM nation
      |  UNION ALL
      |  SELECT n_nationkey, 'StudyDate',
      |         '202401' || lpad(CAST(n_nationkey % 28 + 1 AS VARCHAR), 2, '0')
      |  FROM nation)
      |SELECT CAST(code AS BIGINT) AS code, keyword, value
      |FROM f ORDER BY code, keyword""".stripMargin

  // ---------------------------------------------------------------- Q-mail
  // K4's engine half through the gate: the inquiry-mail render
  // (mail-inquiry.py message assembly — headers, templated body, base64
  // TSV attachment) built per nation with synthetic addresses, against
  // an oracle that re-assembles the identical RFC-2822 string with SQL
  // concatenation and its own base64. Transport stays the K4 exec seam.
  def mailQ(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "nation")
      .select(col("n_nationkey"),
        Sinks.renderInquiryMail(
          from = lit("noreply@example.org"),
          to = lit("pm@example.org,lead@example.org,"),
          user = concat(lit("user_"), col("n_nationkey").cast("string")),
          project = concat(lit("Q"), substring(col("n_name"), 1, 4)),
          space = concat(lit("SPACE_"), col("n_regionkey").cast("string")),
          tsv = concat(lit("sample\tcount\n"), col("n_name"), lit("\t"),
            col("n_nationkey").cast("string"), lit("\n"))).as("msg"))
      .orderBy("n_nationkey")

  private val mailSql =
    """SELECT n_nationkey,
      |  'From: noreply@example.org' || chr(10) ||
      |  'To: pm@example.org,lead@example.org,' || chr(10) ||
      |  'Subject: user_' || CAST(n_nationkey AS VARCHAR) ||
      |  ' would like to register the new project Q' || substr(n_name, 1, 4) || chr(10) ||
      |  'MIME-Version: 1.0' || chr(10) ||
      |  'Content-Type: multipart/mixed; boundary="=_graft_part"' || chr(10) || chr(10) ||
      |  '--=_graft_part' || chr(10) ||
      |  'Content-Type: text/plain' || chr(10) || chr(10) ||
      |  'Hi,' || chr(10) || chr(10) ||
      |  'user_' || CAST(n_nationkey AS VARCHAR) ||
      |  ' would like to register the Project Q' || substr(n_name, 1, 4) ||
      |  ' in Space SPACE_' || CAST(n_regionkey AS VARCHAR) || '.' || chr(10) ||
      |  'I''ve attached the project TSV for you.' || chr(10) || chr(10) ||
      |  'Have a nice day,' || chr(10) ||
      |  'Your friendly mail service plugin.' || chr(10) || chr(10) ||
      |  '--=_graft_part' || chr(10) ||
      |  'Content-Type: application/octet-stream' || chr(10) ||
      |  'Content-Transfer-Encoding: base64' || chr(10) ||
      |  'Content-Disposition: attachment; filename="Q' || substr(n_name, 1, 4) ||
      |  '_plan.tsv"' || chr(10) || chr(10) ||
      |  to_base64(encode('sample' || chr(9) || 'count' || chr(10) || n_name ||
      |    chr(9) || CAST(n_nationkey AS VARCHAR) || chr(10))) || chr(10) ||
      |  '--=_graft_part--' AS msg
      |FROM nation ORDER BY n_nationkey""".stripMargin

  // ----------------------------------------------------------------- Q-cxx
  // K8's deepest instance through the gate: the CentraXX full-document
  // export (vcf2xml.py:240-401 createPatientExport +
  // createGenevarsCxxCVs.py:96-160 CV catalogs) assembled end-to-end —
  // synthetic per-sample variant calls in 3-letter snpEff form, the F5
  // regex-split + 3→1 translation, the J4 broadcast panel match with the
  // reference's exact VARIANTABSENT/overlap/VARIANTPRESENT semantics
  // (matchVariantsToQBiCPanel, vcf2xml.py:179-197), then per-patient
  // document rendering as ONE codegen'd string column. The oracle
  // re-assembles the identical documents with SQL concatenation,
  // deriving the 1-letter variants independently from the seed indices
  // (a VALUES mapping) — so the regex, the AA table, the panel-match
  // set logic, and every element of the document byte stream cross the
  // hash. 25 patient docs + 4 catalog docs; the panel is a broadcast
  // literal (the 100 TB shape: panel ≪ calls, calls side never
  // shuffles more than its per-gene partial aggregation).
  private val CxxMuts = Seq( // (3-letter seed, independent 1-letter oracle form in SQL)
    ("Val", "600", "Glu"), ("Gly", "12", "Asp"), ("Leu", "858", "Arg"),
    ("Arg", "175", "His"), ("Ala", "100", "Thr"), ("Thr", "790", "Met"),
    ("Gly", "13", "Cys"), ("Pro", "250", "Ser"))
  private val CxxGenes = Seq("BRAF", "KRAS", "EGFR", "TP53", "ALK", "MET")
  private val CxxPanel = Seq(
    "BRAF" -> "V600E", "BRAF" -> "V600K", "KRAS" -> "G12D",
    "KRAS" -> "G13C", "EGFR" -> "L858R", "EGFR" -> "T790M",
    "TP53" -> "R175H")

  def cxxQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val geneArr = array(CxxGenes.map(lit): _*)
    val mutArr = array(CxxMuts.map { case (a, p, b) => lit(s"p.$a$p$b") }: _*)
    val calls = load(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("pk"),
        explode(sequence(lit(0), lit(3))).as("i"))
      .select(col("pk"),
        element_at(geneArr, (pmod(col("pk") + col("i"), lit(6)) + 1).cast("int")).as("gene"),
        when(pmod(col("pk") + col("i"), lit(5)) === 0, lit(null).cast("string"))
          .otherwise(element_at(mutArr,
            (pmod(col("pk") * 3 + col("i") * 5, lit(8)) + 1).cast("int"))).as("mut3"))
    // F5: strip `p.`, regex-split ref/pos/alt, translate BOTH sides 3→1
    val parts = graft.functions.AminoAcid.mutationParts(
      regexp_replace(col("mut3"), "^p\\.", ""))
    val v1 = calls.select(col("pk"), col("gene"),
      when(col("mut3").isNull, lit("VARIANTABSENT"))
        .otherwise(concat(
          graft.functions.AminoAcid.toOneLetter(parts.getField("ref")),
          parts.getField("pos"),
          graft.functions.AminoAcid.toOneLetter(parts.getField("alt")))).as("v"))
    val panel = CxxPanel.toDF("gene", "pvar")
      .groupBy("gene").agg(array_sort(collect_list("pvar")).as("panel_vars"))
    val perGene = v1.groupBy("pk", "gene").agg(collect_set("v").as("observed"))
      .join(broadcast(panel), Seq("gene"), "left")
      .select(col("pk"), col("gene"),
        graft.sources.CentraXX.matchToPanel(
          col("observed"), col("panel_vars")).as("refs"))
      .filter(col("refs").isNotNull)
    val perPatient = perGene.groupBy("pk")
      .agg(array_sort(collect_list(struct(col("gene"), col("refs")))).as("genes"))
    val qsid = concat(lit("QTEST"), lpad(col("pk").cast("string"), 3, "0"), lit("AE"))
    val docs = perPatient.select(
      lit("patient").as("kind"),
      lpad(col("pk").cast("string"), 2, "0").as("key"),
      graft.sources.CentraXX.patientExport(
        qPatientId = concat(lit("QTEST-PAT-"), col("pk").cast("string")),
        mpi = concat(lit("MPI"), col("pk").cast("string")),
        qSampleId = qsid,
        pgmSampleId = concat(lit("PGM-"), col("pk").cast("string")),
        samplingDate = concat(lit("2024-01-"),
          lpad((pmod(col("pk"), lit(28)) + 1).cast("string"), 2, "0"),
          lit("T11:59:59")),
        panelName = lit("finalCxxPanel4000"),
        genes = col("genes")).as("xml"))
    val cats = panel.select(
      lit("catalog").as("kind"), col("gene").as("key"),
      graft.sources.CentraXX.geneCatalog(col("gene"), col("panel_vars")).as("xml"))
    docs.unionByName(cats).orderBy("kind", "key")
  }

  private val cxxSql = {
    val udc = (v: String) => s"'<UserDefinedCatalogEntryRef>' || $v || '</UserDefinedCatalogEntryRef>'"
    val dateBlock = (tag: String) =>
      s"'<$tag><Date>' || dt || '</Date><Precision>EXACT</Precision></$tag>'"
    val catEntry = (code: String, en: String, de: String) =>
      s"'<CustomCatalogEntry><Code>' || $code || '</Code><NameMultilingualEntries>" +
        s"<MultilingualEntry lang=\"de\">' || $de || '</MultilingualEntry>" +
        s"<MultilingualEntry lang=\"en\">' || $en || '</MultilingualEntry>" +
        s"</NameMultilingualEntries></CustomCatalogEntry>'"
    s"""WITH m(idx, mut1) AS (VALUES (0,'V600E'),(1,'G12D'),(2,'L858R'),(3,'R175H'),
       |                            (4,'A100T'),(5,'T790M'),(6,'G13C'),(7,'P250S')),
       |g(gi, gene) AS (VALUES (0,'BRAF'),(1,'KRAS'),(2,'EGFR'),(3,'TP53'),(4,'ALK'),(5,'MET')),
       |panel(gene, pvar) AS (VALUES ('BRAF','V600E'),('BRAF','V600K'),('KRAS','G12D'),
       |                             ('KRAS','G13C'),('EGFR','L858R'),('EGFR','T790M'),
       |                             ('TP53','R175H')),
       |seq(i) AS (VALUES (0),(1),(2),(3)),
       |calls AS (
       |  SELECT CAST(n.n_nationkey AS BIGINT) AS pk, g.gene,
       |         CASE WHEN (n.n_nationkey + s.i) % 5 = 0 THEN 'VARIANTABSENT'
       |              ELSE m.mut1 END AS v
       |  FROM nation n CROSS JOIN seq s
       |  JOIN g ON g.gi = (n.n_nationkey + s.i) % 6
       |  JOIN m ON m.idx = (n.n_nationkey * 3 + s.i * 5) % 8),
       |pgene AS (SELECT DISTINCT gene FROM panel),
       |pg AS (
       |  SELECT c.pk, c.gene,
       |         max(CASE WHEN c.v = 'VARIANTABSENT' THEN 1 ELSE 0 END) AS absent,
       |         max(CASE WHEN p.gene IS NOT NULL THEN 1 ELSE 0 END) AS on_panel
       |  FROM calls c LEFT JOIN pgene p ON p.gene = c.gene
       |  GROUP BY 1, 2),
       |matched AS (
       |  SELECT c.pk, c.gene,
       |         string_agg(${udc("v")}, '' ORDER BY v) AS mstr
       |  FROM (SELECT DISTINCT c0.pk, c0.gene, c0.v
       |        FROM calls c0 JOIN panel p ON p.gene = c0.gene AND p.pvar = c0.v) c
       |  GROUP BY 1, 2),
       |refs AS (
       |  SELECT pg.pk, pg.gene,
       |    CASE WHEN pg.absent = 1 THEN ${udc("'VARIANTABSENT'")}
       |         WHEN pg.on_panel = 1 THEN
       |           coalesce(mt.mstr, '') || ${udc("'VARIANTPRESENT'")}
       |         ELSE NULL END AS refstr
       |  FROM pg LEFT JOIN matched mt ON mt.pk = pg.pk AND mt.gene = pg.gene),
       |blocks AS (
       |  SELECT pk,
       |    string_agg('<FlexibleEnumerationValue><FlexibleValueTypeRef>QBIC-GENEPARAM-'
       |      || gene || '</FlexibleValueTypeRef>' || refstr
       |      || '</FlexibleEnumerationValue>', '' ORDER BY gene) AS gb
       |  FROM refs WHERE refstr IS NOT NULL GROUP BY pk),
       |ids AS (
       |  SELECT pk, gb,
       |         'QTEST' || lpad(CAST(pk AS VARCHAR), 3, '0') || 'AE' AS qsid,
       |         '2024-01-' || lpad(CAST(pk % 28 + 1 AS VARCHAR), 2, '0')
       |           || 'T11:59:59' AS dt
       |  FROM blocks),
       |ids2 AS (
       |  SELECT *, qsid || '-' || substr(sha256(qsid), 1, 8) AS link FROM ids),
       |pdoc AS (
       |  SELECT 'patient' AS kind, lpad(CAST(pk AS VARCHAR), 2, '0') AS key,
       |    '<CentraXXDataExchange><Source>XMLIMPORT</Source><EffectData>'
       |    || '<PatientDataSet><Source>XMLIMPORT</Source><IDContainer>'
       |    || '<FlexibleID name="MPI">MPI' || CAST(pk AS VARCHAR) || '</FlexibleID>'
       |    || '<FlexibleID name="QBIC_PAT_ID">QTEST-PAT-' || CAST(pk AS VARCHAR) || '</FlexibleID>'
       |    || '</IDContainer><Masterdata/>'
       |    || '<OrganisationUnitRefs>QBIC</OrganisationUnitRefs>'
       |    || '<SampleData><MasterSample><Source>XMLIMPORT</Source>'
       |    || '<SampleIDContainer>'
       |    || '<FlexibleID name="SAMPLEID">PGM-' || CAST(pk AS VARCHAR) || '</FlexibleID>'
       |    || '<FlexibleID name="QBIC_SAMPLE_ID">' || qsid || '</FlexibleID>'
       |    || '</SampleIDContainer>'
       |    || '<SampleTypeCatalogueTypeRef>UNKN</SampleTypeCatalogueTypeRef>'
       |    || '<OrganisationUnitTypeRef>QBIC</OrganisationUnitTypeRef>'
       |    || '<SampleReceptacleTypeRef>KRYO</SampleReceptacleTypeRef>'
       |    || '<HasChildren>false</HasChildren>'
       |    || '<AmountRest unit="PC">1.0</AmountRest>'
       |    || '<InitialAmount unit="PC">1.0</InitialAmount>'
       |    || '<SampleKind>TISSUE</SampleKind>'
       |    || '<SampleLocationRef>QBIC_STORAGE</SampleLocationRef>'
       |    || '<UseSPREC>false</UseSPREC><VirtualPatient>false</VirtualPatient>'
       |    || '<XPosition>0</XPosition><YPosition>0</YPosition>'
       |    || ${dateBlock("SamplingDate")}
       |    || ${dateBlock("RepositionDate")}
       |    || ${dateBlock("FirstRepositionDate")}
       |    || '<SopDeviation>false</SopDeviation>'
       |    || '<FlexibleDataSetRef>' || link || '</FlexibleDataSetRef>'
       |    || '</MasterSample></SampleData></PatientDataSet>'
       |    || '<FlexibleDataSetInstance>'
       |    || '<FlexibleDataSetTypeRef>QBIC-GENEPANEL-V1</FlexibleDataSetTypeRef>'
       |    || '<InstanceName>finalCxxPanel4000</InstanceName>'
       |    || ${dateBlock("Date")}
       |    || '<Code>QBIC-GENEPANEL-V1-INSTANCE-' || qsid || '</Code>'
       |    || '<FlexibleDataSetInstanceRef>' || link || '</FlexibleDataSetInstanceRef>'
       |    || gb
       |    || '</FlexibleDataSetInstance></EffectData></CentraXXDataExchange>' AS xml
       |  FROM ids2),
       |cdoc AS (
       |  SELECT 'catalog' AS kind, gene AS key,
       |    '<CentraXXDataExchange><Source>QBiC</Source><CatalogueData><CustomCatalog>'
       |    || '<Code>QBIC-GENECV-' || gene || '</Code>'
       |    || '<NameMultilingualEntries>'
       |    || '<MultilingualEntry lang="en">' || gene || '</MultilingualEntry>'
       |    || '<MultilingualEntry lang="de">' || gene || '</MultilingualEntry>'
       |    || '</NameMultilingualEntries>'
       |    || '<CatalogUsage>GENERAL</CatalogUsage><Version>1</Version>'
       |    || '<EntityStatus>ACTIVE</EntityStatus>'
       |    || ${catEntry("'VARIANTPRESENT'", "'Variant(s) present'", "'Variante(n) gefunden'")}
       |    || ${catEntry("'VARIANTABSENT'", "'No variants present'", "'Keine Varianten gefunden'")}
       |    || string_agg(${catEntry("pvar", "pvar", "pvar")}, '' ORDER BY pvar)
       |    || '</CustomCatalog></CatalogueData></CentraXXDataExchange>' AS xml
       |  FROM panel GROUP BY gene)
       |SELECT kind, key, xml FROM pdoc
       |UNION ALL SELECT kind, key, xml FROM cdoc
       |ORDER BY kind, key""".stripMargin
  }

  // ----------------------------------------------------------------- Q-nmr
  // The parameterized prefix-registry pipeline's divergent instance
  // (PrefixRegistryPipeline.runNmr, register-nmr.py:48-130) end-to-end:
  // barcode validate, parent lookup, branch-dependent experiment
  // reuse/create (Q_NMR_MEASUREMENT reuse vs count+1 create for test
  // parents; Q_SAMPLE_PREPARATION reuse-or-error for the rest), and the
  // letter-skip small-molecule sequence — project D's used-index base
  // sits exactly ON the 999 boundary and project B's batch crosses it,
  // so the A→B letter rollover (and the Y/Z skip domain) is what the
  // hash checks. The oracle recomputes every branch independently:
  // checksum arithmetic from ordinals, sequence barcodes from index
  // arithmetic, first-free/count+1 experiment numbers from the seed
  // tables. Corrupt-checksum incoming rows ('Z' is outside map34's
  // range) cross as error rows, not aborts.
  private def nmrProject(key: Column): Column =
    concat(lit("QNMR"), char(pmod(key, lit(4)) + 65))

  def nmrQ(s: SparkSession, dir: String): DataFrame = {
    val sup = load(s, dir, "supplier").select(col("s_suppkey").cast("long").as("k"))
    val proj = nmrProject(col("k"))
    val parent = graft.functions.Barcode.make(proj, pmod(col("k"), lit(999)) + 1, lit("E"))
    val samples = sup.select(parent.as("code"),
      when(pmod(col("k"), lit(3)) === 0, lit("Q_TEST_SAMPLE"))
        .otherwise(lit("Q_TISSUE")).as("sampleType"))
    val good = sup.select(concat(lit("/incoming/"), parent, lit(".raw")).as("path"))
    val bad = sup.filter(pmod(col("k"), lit(17)) === 0)
      .select(concat(lit("/incoming/bad_"), substring(parent, 1, 9), lit("Z.raw")).as("path"))
    val incoming = good.unionByName(bad)
    val reg = load(s, dir, "region").select(col("r_regionkey").cast("long").as("r"))
    val experiments = reg.select(nmrProject(col("r")).as("project"),
      (col("r") + 1).as("num"),
      when(col("r") === 0, lit("Q_NMR_MEASUREMENT"))
        .when(col("r") === 1 || col("r") === 2, lit("Q_SAMPLE_PREPARATION"))
        .otherwise(lit("Q_OTHER")).as("expType"))
    val usedSeq = reg.select(nmrProject(col("r")).as("project"),
      (lit(990L) + col("r") * 3).as("idx"))
    val noDatasets = sup.select(lit("").as("code"), lit("").as("dsType"),
      lit("").as("sample"), lit("").as("path")).filter(lit(false))
    val res = graft.pipelines.PrefixRegistryPipeline.runNmr(
      incoming, samples, experiments, noDatasets, usedSeq)
    res.samples.select(lit("sample").as("kind"), col("code"),
        col("parent"),
        concat(col("sampleType"), lit("/E"), col("exp_num").cast("string")).as("info"))
      .unionByName(res.datasets.select(lit("dataset").as("kind"), col("code"),
        col("sample").as("parent"), col("dsType").as("info")))
      .unionByName(res.experiments.select(lit("experiment").as("kind"),
        concat(col("project"), lit("E"), col("num").cast("string")).as("code"),
        col("project").as("parent"), col("expType").as("info")))
      .unionByName(res.errors.select(lit("error").as("kind"),
        col("barcode").as("code"), col("path").as("parent"),
        array_join(col("__errors"), ",").as("info")))
      .orderBy("kind", "code", "parent")
  }

  private val nmrSql = {
    // DuckDB re-derivation of the 9-char-prefix checksum char (inlined
    // twice — a correlated subquery can't see outer columns two FROM
    // levels deep in DuckDB)
    val ck = (p9: String) => {
      val s = s"CAST(list_aggregate(list_transform(generate_series(1, 9), " +
        s"i -> ord(substr($p9, i, 1)) * i), 'sum') % 34 + 48 AS INTEGER)"
      s"(CASE WHEN $s > 57 THEN chr($s + 7) ELSE chr($s) END)"
    }
    s"""WITH sup AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier),
       |par AS (
       |  SELECT k, 'QNMR' || chr(CAST(k % 4 AS INTEGER) + 65) AS proj,
       |         'QNMR' || chr(CAST(k % 4 AS INTEGER) + 65)
       |           || lpad(CAST(k % 999 + 1 AS VARCHAR), 3, '0') || 'E' AS p9
       |  FROM sup),
       |par2 AS (SELECT k, proj, p9, p9 || ${ck("p9")} AS code FROM par),
       |reg AS (SELECT CAST(r_regionkey AS BIGINT) AS r FROM region),
       |exps AS (
       |  SELECT 'QNMR' || chr(CAST(r % 4 AS INTEGER) + 65) AS project, r + 1 AS num,
       |         CASE WHEN r = 0 THEN 'Q_NMR_MEASUREMENT'
       |              WHEN r IN (1, 2) THEN 'Q_SAMPLE_PREPARATION'
       |              ELSE 'Q_OTHER' END AS expType
       |  FROM reg),
       |expagg AS (
       |  SELECT project,
       |         max(CASE WHEN expType = 'Q_NMR_MEASUREMENT' THEN num END) AS nmr_exp,
       |         max(CASE WHEN expType = 'Q_SAMPLE_PREPARATION' THEN num END) AS prep_exp,
       |         count(*) AS n_exp
       |  FROM exps GROUP BY 1),
       |seqbase AS (
       |  SELECT 'QNMR' || chr(CAST(r % 4 AS INTEGER) + 65) AS project,
       |         max(990 + r * 3) AS base
       |  FROM reg GROUP BY 1),
       |good AS (
       |  SELECT p.k, p.proj, p.code, '/incoming/' || p.code || '.raw' AS path,
       |         (p.k % 3 = 0) AS is_test
       |  FROM par2 p),
       |withexp AS (
       |  SELECT g.*, e.nmr_exp, e.prep_exp, e.n_exp,
       |         CASE WHEN g.is_test THEN coalesce(e.nmr_exp, coalesce(e.n_exp, 0) + 1)
       |              ELSE e.prep_exp END AS exp_num,
       |         g.is_test AND e.nmr_exp IS NULL AS exp_created
       |  FROM good g LEFT JOIN expagg e ON e.project = g.proj),
       |consuming AS (
       |  SELECT w.*, s.base,
       |         s.base + row_number() OVER (PARTITION BY w.proj ORDER BY w.path) AS idx
       |  FROM withexp w JOIN seqbase s ON s.project = w.proj
       |  WHERE NOT w.is_test AND w.exp_num IS NOT NULL),
       |mol AS (
       |  SELECT c.*, p9m || ${ck("p9m")} AS mol_code
       |  FROM (SELECT c0.*,
       |          c0.proj || lpad(CAST((c0.idx - 1) % 999 + 1 AS VARCHAR), 3, '0')
       |            || substr('ABCDEFGHIJKLMNOPQRSTUVWX',
       |                 CAST((c0.idx - 1) // 999 AS INTEGER) + 1, 1) AS p9m
       |        FROM consuming c0) c),
       |registered AS (
       |  SELECT w.k, w.proj, w.code AS parent_code, w.path, w.is_test,
       |         w.exp_num, w.exp_created, m.mol_code,
       |         coalesce(m.mol_code, w.code) AS attach
       |  FROM withexp w LEFT JOIN mol m ON m.k = w.k
       |  WHERE w.exp_num IS NOT NULL),
       |out_samples AS (
       |  SELECT 'sample' AS kind, mol_code AS code, parent_code AS parent,
       |         'Q_TEST_SAMPLE/E' || CAST(exp_num AS VARCHAR) AS info
       |  FROM registered WHERE mol_code IS NOT NULL
       |  UNION ALL
       |  SELECT 'sample', 'NMR' || attach, attach,
       |         'Q_NMR_SAMPLE_RUN/E' || CAST(exp_num AS VARCHAR)
       |  FROM registered),
       |out_datasets AS (
       |  SELECT 'dataset' AS kind, 'NMR' || attach AS code,
       |         'NMR' || attach AS parent, 'Q_NMR_RAW_DATA' AS info
       |  FROM registered),
       |out_exps AS (
       |  SELECT DISTINCT 'experiment' AS kind,
       |         proj || 'E' || CAST(exp_num AS VARCHAR) AS code,
       |         proj AS parent, 'Q_NMR_MEASUREMENT' AS info
       |  FROM registered WHERE exp_created),
       |out_errors AS (
       |  SELECT 'error' AS kind, code, path AS parent,
       |         'EXPERIMENT_NOT_FOUND' AS info
       |  FROM withexp WHERE exp_num IS NULL
       |  UNION ALL
       |  SELECT 'error', substr(p.p9, 1, 9) || 'Z',
       |         '/incoming/bad_' || p.p9 || 'Z.raw', 'CHECKSUM_MISMATCH'
       |  FROM par2 p WHERE p.k % 17 = 0)
       |SELECT kind, code, parent, info FROM out_samples
       |UNION ALL SELECT * FROM out_datasets
       |UNION ALL SELECT * FROM out_exps
       |UNION ALL SELECT * FROM out_errors
       |ORDER BY kind, code, parent""".stripMargin
  }

  // ---------------------------------------------------------------- Q-phash
  // Multimodal near-dup: perceptual average-hash over decoded luminance
  // grids (Multimodal.averageHash) + the UNCHANGED 64-bit/16-bit-band
  // candidate machinery from text dedup (Dedup.simhashPairs) — image
  // near-dup composes from existing pieces, the decode stage being the
  // documented deterministic stub (pixel cells derived from the
  // engine-portable sha hash; a real codec slots into the
  // decodePartition seam without touching the column math). Seed: every
  // odd image is a perturbed twin of its even predecessor (~2 cells
  // shifted +200), so twins sit at small hamming while random pairs
  // center at 32. The oracle replays grid derivation, the
  // cross-multiplied mean test, the signed bit-63 pack, banding, and
  // the hamming verify — the whole fingerprint path crosses the hash.
  private val PhashMaxHamming = 10

  def phashQ(s: SparkSession, dir: String): DataFrame = {
    // spread: the 64-cell sha grid is scan-stage compute (64 sha256 per
    // row), 1-task on a single-split file otherwise (r17)
    val img = graft.core.Tables.spread(
      load(s, dir, "part").select(col("p_partkey").cast("long").as("id")))
    val base = when(pmod(col("id"), lit(2)) === 1, col("id") - 1).otherwise(col("id"))
    val grid = transform(sequence(lit(0), lit(63)), i => {
      val p = pmod(graft.functions.TextFunctions.shaHash32(
        concat(base.cast("string"), lit("#"), i.cast("string"))), lit(256))
      when(pmod(col("id"), lit(2)) === 1 && pmod(i + col("id"), lit(29)) === 0,
        pmod(p + 200, lit(256))).otherwise(p)
    })
    // STAGE grid/total as attributes: a lambda's free subexpressions
    // re-evaluate per element, so an unstaged sha-built grid inside the
    // bit pack costs O(cells²) sha calls per row (Multimodal
    // .averageHashStaged doc — measured before staging)
    val staged = img.withColumn("grid", grid)
      .withColumn("gn", size(col("grid")).cast("long"))
      .withColumn("gtotal",
        aggregate(col("grid"), lit(0L), (acc, x) => acc + x))
    // PIN the signature table before the candidate join (nearDupMinhash's
    // persist discipline): without the barrier, the band join's
    // isnotnull pushdown inlines the whole staged HOF pipeline back
    // into a pre-Generate filter — re-expanding the per-element
    // re-evaluation the staging removed (measured 280 s vs 1.5 s for
    // the pair stage at sf0.1)
    val sig = graft.core.Checkpoints.pin(
      staged.select(col("id"),
        graft.operators.Multimodal.averageHashStaged(
          col("grid"), col("gn"), col("gtotal")).as("simhash")))
    Dedup.simhashPairs(sig, maxHamming = PhashMaxHamming, bits = 64)
      .orderBy("id_a", "id_b")
  }

  private val phashSql = {
    val cell = (b: String, i: String) =>
      s"CAST(concat('0x', substr(sha256(CAST($b AS VARCHAR) || '#' || CAST($i AS VARCHAR)), 1, 8)) AS BIGINT) % 256"
    val fp = (0 until 64)
      .map(i => s"CASE WHEN grid[${i + 1}] * 64 > total THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    val bandSelects = (0 until 4)
      .map(b => s"SELECT $b AS band, (simhash >> ${b * 16}) & 65535 AS band_hash, id, simhash FROM s")
      .mkString(" UNION ALL ")
    s"""WITH img AS (SELECT CAST(p_partkey AS BIGINT) AS id FROM part),
       |bb AS (SELECT id, CASE WHEN id % 2 = 1 THEN id - 1 ELSE id END AS base FROM img),
       |g AS (SELECT id,
       |        list_transform(generate_series(0, 63), i ->
       |          CASE WHEN id % 2 = 1 AND (i + id) % 29 = 0
       |               THEN (${cell("base", "i")} + 200) % 256
       |               ELSE ${cell("base", "i")} END) AS grid
       |      FROM bb),
       |t AS (SELECT id, grid, list_aggregate(grid, 'sum') AS total FROM g),
       |s AS (SELECT id, CAST($fp AS BIGINT) AS simhash FROM t),
       |bands AS ($bandSelects),
       |pairs AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b,
       |         bit_count(xor(x.simhash, y.simhash)) AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_hash = y.band_hash AND x.id < y.id)
       |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM pairs
       |WHERE hamming <= $PhashMaxHamming ORDER BY id_a, id_b""".stripMargin
  }

  // ------------------------------------------------------------- Q-cxxpush
  // K5's engine half through the gate: the CentraXX REST import-queue
  // push (pushXML2cxxRest.py:44-75) — queue POST carrying an XML body
  // with Basic auth + true byte Content-Length, then the /start
  // trigger — rendered per nation as deterministic RFC-7230 strings.
  // The body reuses q_xml's element expression, so the oracle
  // re-assembles the identical request bytes (DuckDB to_base64 +
  // octet_length(encode(..))) without re-deriving the full q_cxx
  // document; transport stays the exec seam (K4's division).
  def cxxPushQ(s: SparkSession, dir: String): DataFrame = {
    val xml = Sinks.xmlElement("note",
      Seq("id" -> concat(col("n_name"), lit("&CO")),
        "region" -> col("n_regionkey").cast("string")),
      concat(lit("size<"), col("n_nationkey").cast("string")))
    val fname = concat(lit("patient_"), col("n_nationkey").cast("string"), lit(".xml"))
    val n = load(s, dir, "nation")
    n.select(col("n_nationkey"), lit("import").as("kind"),
        graft.sources.CentraXX.renderImportRequest(
          lit("cxx.example.org"), fname, lit("qbic"), lit("secret"),
          xml).as("req"))
      .unionByName(n.select(col("n_nationkey"), lit("start").as("kind"),
        graft.sources.CentraXX.renderStartRequest(
          lit("cxx.example.org"), fname, lit("qbic"), lit("secret")).as("req")))
      .orderBy("n_nationkey", "kind")
  }

  private val cxxPushSql = {
    def esc(e: String) =
      s"replace(replace(replace($e, '&', '&amp;'), '<', '&lt;'), '\"', '&quot;')"
    val xml =
      s"""'<note id="' || ${esc("n_name || '&CO'")} ||
         |  '" region="' || ${esc("CAST(n_regionkey AS VARCHAR)")} ||
         |  '">' || ${esc("'size<' || CAST(n_nationkey AS VARCHAR)")} || '</note>'""".stripMargin
    s"""WITH x AS (SELECT n_nationkey, $xml AS xml,
       |  'patient_' || CAST(n_nationkey AS VARCHAR) || '.xml' AS fname
       |  FROM nation),
       |auth AS (SELECT *, to_base64(encode('qbic:secret')) AS b64 FROM x)
       |SELECT n_nationkey, 'import' AS kind,
       |  'POST /centraxx/rest/import/queue/' || fname || ' HTTP/1.1' || chr(13) || chr(10) ||
       |  'Host: cxx.example.org' || chr(13) || chr(10) ||
       |  'Authorization: Basic ' || b64 || chr(13) || chr(10) ||
       |  'Content-Type: application/xml' || chr(13) || chr(10) ||
       |  'Content-Length: ' || CAST(octet_length(encode(xml)) AS VARCHAR) ||
       |  chr(13) || chr(10) || chr(13) || chr(10) || xml AS req
       |FROM auth
       |UNION ALL
       |SELECT n_nationkey, 'start',
       |  'POST /centraxx/rest/import/queue/' || fname || '/start HTTP/1.1' || chr(13) || chr(10) ||
       |  'Host: cxx.example.org' || chr(13) || chr(10) ||
       |  'Authorization: Basic ' || b64 || chr(13) || chr(10) ||
       |  'Content-Length: 0' || chr(13) || chr(10) || chr(13) || chr(10) AS req
       |FROM auth
       |ORDER BY n_nationkey, kind""".stripMargin
  }

  // --------------------------------------------------------------- Q-tpch5
  // The spark.sql SURFACE of the library: users of a Spark-native
  // engine write SQL too, so one declared query IS a SQL statement —
  // the TPC-H Q5 shape (6-table local-supplier-volume join) executed
  // via temp views + spark.sql, with the ORACLE being the IDENTICAL
  // SQL text in DuckDB. What this gates beyond parsing: Catalyst's
  // join reordering + AQE broadcast selection must produce the same
  // rows as DuckDB's own optimizer over a 6-relation join, and the
  // money arithmetic stays on the integral-cents convention so the two
  // engines' double folds can't drift. The customer↔supplier nation
  // equality is the classic Q5 twist (joins the two dimension arms).
  private val Tpch5Sql =
    """SELECT n_name,
      |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
      |                     AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       CAST(count(*) AS BIGINT) AS n_items
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue_cents DESC, n_name""".stripMargin

  def tpch5Q(s: SparkSession, dir: String): DataFrame = {
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch5Sql)
  }

  // --------------------------------------------------- Q-tpch4/17/22
  // Three more rows on the spark.sql face, each gating a DIFFERENT
  // piece of subquery planning machinery that the DataFrame-first
  // surface never touches (q_tpch5 covered join reorder + AQE
  // broadcast selection):
  //   - q_tpch4: correlated EXISTS — Catalyst's RewritePredicateSubquery
  //     must turn it into a LEFT SEMI join (SqlSurfaceSpec asserts the
  //     physical plan) and agree row-for-row with DuckDB's own
  //     semi-join plan.
  //   - q_tpch17: correlated SCALAR subquery with an aggregate —
  //     decorrelation rewrites it into a per-p_partkey aggregate
  //     joined back to the outer (the "small-quantity parts" Q17
  //     shape). The 0.2·avg threshold is stated division-free
  //     (l_quantity·5 < sum) so integral doubles keep both engines
  //     bit-identical.
  //   - q_tpch22: NOT EXISTS (anti-join path) + two UNCORRELATED
  //     scalar subqueries, the above-average-balance Q22 shape; the
  //     avg threshold is cross-multiplied (cents·count > sum·1) so
  //     nothing divides. The anti-join predicate is "no URGENT order"
  //     rather than "no order" because the synthetic corpus gives
  //     every customer orders at every SF — the absence class must
  //     be non-degenerate for the row to gate anything (18/203/1986
  //     qualifying customers at sf0.001/0.01/0.1 before the balance
  //     filter).
  // Oracle = the IDENTICAL SQL text in DuckDB for all three.
  private val Tpch4Sql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  def tpch4Q(s: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch4Sql)
  }

  private val Tpch17Sql =
    """SELECT p_brand,
      |       CAST(count(*) AS BIGINT) AS n_small,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT) AS price_cents
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_size <= 10
      |  AND l_quantity * 5 < (SELECT CAST(sum(l2.l_quantity) AS BIGINT)
      |                        FROM lineitem l2
      |                        WHERE l2.l_partkey = p_partkey)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  def tpch17Q(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch17Sql)
  }

  private val Tpch22Sql =
    """SELECT c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n_cust,
      |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |         AS bal_cents
      |FROM customer
      |WHERE CAST(round(c_acctbal * 100) AS BIGINT)
      |        * (SELECT CAST(count(*) AS BIGINT) FROM customer c2
      |           WHERE c2.c_acctbal > 0)
      |      > (SELECT CAST(sum(CAST(round(c3.c_acctbal * 100) AS BIGINT))
      |                     AS BIGINT)
      |         FROM customer c3 WHERE c3.c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  def tpch22Q(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch22Sql)
  }

  // ---------------------------------------------- Q-lateral / Q-tpch20
  // Two more subquery-planner gates on the SQL face:
  //   - q_lateral: correlated LATERAL subquery with ORDER BY + LIMIT —
  //     top-k-per-outer-row as the USER writes it; Catalyst must
  //     decorrelate the limited correlated subquery (the rewrite
  //     behind every "best N per group" lateral) and agree with
  //     DuckDB's own lateral execution row-for-row.
  //   - q_tpch20: NESTED decorrelation — an IN subquery whose inner
  //     WHERE carries two correlated scalar aggregates ("customers
  //     with an order worth more than 3× their own average"), stated
  //     division-free in cents so nothing floats.
  private val LateralSql =
    """SELECT r_name, n_name, n_nationkey
      |FROM region,
      |     LATERAL (SELECT n_name, n_nationkey FROM nation
      |              WHERE n_regionkey = r_regionkey
      |              ORDER BY n_name LIMIT 2) t
      |ORDER BY r_name, n_name""".stripMargin

  def lateralQ(s: SparkSession, dir: String): DataFrame = {
    Seq("region", "nation")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(LateralSql)
  }

  private val Tpch20Sql =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust
      |FROM customer
      |WHERE c_custkey IN (
      |  SELECT o_custkey FROM orders o1
      |  WHERE CAST(round(o1.o_totalprice * 100) AS BIGINT)
      |          * (SELECT CAST(count(*) AS BIGINT) FROM orders o2
      |             WHERE o2.o_custkey = o1.o_custkey)
      |        > 3 * (SELECT CAST(sum(CAST(round(o3.o_totalprice * 100)
      |                                    AS BIGINT)) AS BIGINT)
      |               FROM orders o3 WHERE o3.o_custkey = o1.o_custkey))
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  def tpch20Q(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch20Sql)
  }

  // ------------------------------------------- TPC-H completion block
  // The remaining distinct PLANNER SHAPES from the TPC-H suite, adapted
  // to the corpus columns (no partsupp table, no commit/receipt dates —
  // each query keeps its original planning challenge on the columns
  // that exist). With these, every TPC-H query class a user would run
  // against the reference's report surface (K3/W5 ordered reports over
  // star joins) has a gate row on the spark.sql face:
  //   - q_tpch7: 6-relation join with a DISJUNCTIVE nation-pair
  //     predicate over two aliases of the same dimension — Catalyst
  //     must keep the equi-join keys and evaluate the pair filter as a
  //     residual, not fall back to a nested loop.
  //   - q_tpch8: the 8-relation market-share shape; share stated as
  //     (nation_volume, total_volume) integer pair instead of a
  //     division so both engines stay in exact BIGINT. Join-reorder
  //     gauntlet: region→nation is a two-step snowflake on BOTH the
  //     customer and supplier arms.
  //   - q_tpch11: GROUP BY ... HAVING against a GLOBAL scalar subquery
  //     (the important-stock shape). The threshold is relative to the
  //     per-supplier average (share > 1.05×avg via supplier-count
  //     cross-multiply) so the row stays non-degenerate at every SF —
  //     the classic query scales its fraction by SF for the same
  //     reason. Uncorrelated scalars legitimately survive as subquery
  //     stages; the gate is value parity.
  //   - q_tpch13: LEFT OUTER JOIN with an EXTRA non-key join predicate
  //     + count over the nullable side + re-aggregation of the counts
  //     (the customer-distribution shape; counts-of-counts).
  //   - q_tpch15: CTE referenced TWICE (revenue view + its max) — the
  //     top-supplier shape; Spark plans the second reference as a
  //     scalar subquery over the same aggregate.
  //   - q_tpch16: count(DISTINCT) + NOT IN blacklist subquery — the
  //     null-aware anti-join path (s_suppkey is non-null, but the
  //     planner must still prove or guard it).
  //   - q_tpch18: IN over a GROUP BY ... HAVING subquery (large-order
  //     shape) joined back to the same fact table.
  //   - q_tpch21: EXISTS + NOT EXISTS self-joins on the fact table in
  //     ONE query (the waiting-supplier shape, restated on l_shipdate:
  //     supplier was the LAST to ship on a multi-supplier order) —
  //     a LeftSemi and a LeftAnti against the same relation.
  //   - q_tpch2: correlated scalar MIN over the fact table (min-cost
  //     supplier shape) — decorrelates to a per-partkey aggregate
  //     joined back; equality lands on integral-cent doubles.
  //   - q_tpch12: conditional aggregation — CASE inside sum() over a
  //     fact/dim join (ship-mode priority shape).
  //   - q_tpch19: OR-of-ANDs predicate where the equi-join key is
  //     common to every disjunct — BooleanSimplification must factor
  //     `p_partkey = l_partkey` out of the disjunction or the plan
  //     degenerates to a cartesian nested loop (PlanAuditSpec would
  //     fail). The classic Q19 pushdown-extraction test.
  // Oracle = the IDENTICAL SQL text in DuckDB for all eleven. Money is
  // cents (round(price·100)); discounted volume is cents×(100−bp) so
  // revenue sums stay in exact integer "cent-percent" units.
  private val Tpch7Sql =
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(sum(volume) AS BIGINT) AS revenue
      |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |             CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |             CAST(round(l_extendedprice * 100) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |               AS volume
      |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |        AND c_nationkey = n2.n_nationkey
      |        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_12')
      |          OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_3'))
      |     ) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  def tpch7Q(s: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "lineitem", "orders", "customer", "nation")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch7Sql)
  }

  private val Tpch8Sql =
    """SELECT o_year,
      |       CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
      |            AS BIGINT) AS nation_volume,
      |       CAST(sum(volume) AS BIGINT) AS total_volume
      |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |             CAST(round(l_extendedprice * 100) AS BIGINT)
      |               * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |               AS volume,
      |             n2.n_name AS nation
      |      FROM part, supplier, lineitem, orders, customer,
      |           nation n1, nation n2, region
      |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |        AND c_nationkey = n1.n_nationkey
      |        AND n1.n_regionkey = r_regionkey
      |        AND s_nationkey = n2.n_nationkey
      |        AND r_name = 'EUROPE' AND p_type = 'PROMO') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  def tpch8Q(s: SparkSession, dir: String): DataFrame = {
    Seq("part", "supplier", "lineitem", "orders", "customer",
        "nation", "region")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch8Sql)
  }

  private val Tpch11Sql =
    """SELECT l_suppkey,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT) AS value_cents
      |FROM lineitem
      |GROUP BY l_suppkey
      |HAVING sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |         * (SELECT CAST(count(*) AS BIGINT) FROM supplier) * 100
      |     > (SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |        FROM lineitem) * 105
      |ORDER BY value_cents DESC, l_suppkey""".stripMargin

  def tpch11Q(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "supplier")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch11Sql)
  }

  private val Tpch13Sql =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (SELECT c_custkey,
      |             CAST(count(o_orderkey) AS BIGINT) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey
      |       AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  def tpch13Q(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch13Sql)
  }

  private val Tpch15Sql =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |              AS BIGINT) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  def tpch15Q(s: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "lineitem")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch15Sql)
  }

  private val Tpch16Sql =
    """SELECT p_brand, p_type, p_size,
      |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM part, lineitem
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#5'
      |  AND p_type NOT LIKE 'PROMO%'
      |  AND p_size IN (1, 14, 23, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_name LIKE '%77')
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  def tpch16Q(s: SparkSession, dir: String): DataFrame = {
    Seq("part", "lineitem", "supplier")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch16Sql)
  }

  private val Tpch18Sql =
    """SELECT c_custkey, o_orderkey,
      |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |       CAST(sum(l_quantity) AS BIGINT) AS total_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey
      |                     HAVING sum(l_quantity) > 180)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_custkey, o_orderkey, o_totalprice
      |ORDER BY o_orderkey""".stripMargin

  def tpch18Q(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch18Sql)
  }

  private val Tpch21Sql =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  def tpch21Q(s: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "lineitem", "orders")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch21Sql)
  }

  private val Tpch2Sql =
    """SELECT DISTINCT p_partkey, p_name, s_name,
      |       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
      |FROM part, lineitem, supplier
      |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |  AND p_size = 25
      |  AND round(l_extendedprice * 100)
      |      = (SELECT min(round(l2.l_extendedprice * 100))
      |         FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      |ORDER BY p_partkey, s_name, price_cents""".stripMargin

  def tpch2Q(s: SparkSession, dir: String): DataFrame = {
    Seq("part", "lineitem", "supplier")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch2Sql)
  }

  private val Tpch12Sql =
    """SELECT l_linestatus,
      |       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |                       OR o_orderpriority = '2-HIGH'
      |                     THEN 1 ELSE 0 END) AS BIGINT)
      |         AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
      |                      AND o_orderpriority <> '2-HIGH'
      |                     THEN 1 ELSE 0 END) AS BIGINT)
      |         AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  def tpch12Q(s: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch12Sql)
  }

  private val Tpch19Sql =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |            AS BIGINT) AS revenue,
      |       CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem, part
      |WHERE (p_partkey = l_partkey AND p_brand = 'Brand#1'
      |       AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 30)
      |   OR (p_partkey = l_partkey AND p_brand = 'Brand#2'
      |       AND p_size BETWEEN 10 AND 30
      |       AND l_quantity >= 10 AND l_quantity <= 40)
      |   OR (p_partkey = l_partkey AND p_brand = 'Brand#3'
      |       AND p_size BETWEEN 20 AND 45
      |       AND l_quantity >= 20 AND l_quantity <= 50)""".stripMargin

  def tpch19Q(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch19Sql)
  }

  // ------------------------------------------ Q-tpch1/3/6/9/10/14
  // The remaining six of the public 22, completing the suite (the
  // other 16 landed in earlier rounds). Adapted to this corpus's
  // narrower schema the same way as the rest: no partsupp table (Q9's
  // supply cost proxies as p_retailprice·quantity — the 6-relation
  // join + year() rollup it exists to exercise is intact), no
  // o_shippriority (Q3 carries o_orderpriority), p_type is a single
  // word (Q14's PROMO% prefix becomes equality). All money math is
  // division-free fixed-point (cents · percent units) so Spark and
  // DuckDB stay bit-identical: Q1's averages are returned as the
  // (sum, count) pairs they derive from, Q14's percentage as its two
  // sums. Top-k rows (Q3/Q10) append the group key as the final sort
  // tiebreak so LIMIT is deterministic across engines. Planner
  // surface per query, asserted in SqlSurfaceSpec:
  //   - q_tpch1: the canonical wide partial-agg scan — one scan, six
  //     aggregates, hash partial+final, no join at all.
  //   - q_tpch3: 3-relation join funnel into a grouped TopK — the
  //     ORDER BY agg LIMIT shape (TakeOrderedAndProject over the
  //     final aggregate).
  //   - q_tpch6: pure scan-side conjunctive filter into an ungrouped
  //     agg — every predicate must reach the parquet scan.
  //   - q_tpch9: 5-relation star join (largest equi-join chain on the
  //     SQL face) with a year() derived grouping key.
  //   - q_tpch10: join funnel + group-by-many-columns TopK 20.
  //   - q_tpch14: two conditional aggregates over one join — the
  //     CASE-inside-sum pair shares the scan.
  private val Tpch1Sql =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
      |         AS sum_qty,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT) AS sum_base_cents,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |            AS BIGINT) AS sum_disc_c4,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |                * (100 + CAST(round(l_tax * 100) AS BIGINT)))
      |            AS BIGINT) AS sum_charge_c6,
      |       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
      |         AS sum_disc100,
      |       CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def tpch1Q(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(Tpch1Sql)
  }

  private val Tpch3Sql =
    """SELECT l_orderkey,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |            AS BIGINT) AS revenue_c4,
      |       o_orderdate, o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue_c4 DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  def tpch3Q(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch3Sql)
  }

  private val Tpch6Sql =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * CAST(round(l_discount * 100) AS BIGINT))
      |            AS BIGINT) AS revenue_c4,
      |       CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND round(l_discount * 100) BETWEEN 5 AND 7
      |  AND l_quantity < 24""".stripMargin

  def tpch6Q(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(Tpch6Sql)
  }

  private val Tpch9Sql =
    """SELECT n_name AS nation,
      |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT))
      |                - CAST(round(p_retailprice * 100) AS BIGINT) * 100
      |                  * CAST(round(l_quantity) AS BIGINT))
      |            AS BIGINT) AS profit_c4
      |FROM lineitem
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN part ON p_partkey = l_partkey
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN nation ON n_nationkey = s_nationkey
      |WHERE p_name LIKE '%bolt%'
      |GROUP BY n_name, year(o_orderdate)
      |ORDER BY nation, o_year DESC""".stripMargin

  def tpch9Q(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "supplier", "part", "orders", "nation")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch9Sql)
  }

  private val Tpch10Sql =
    """SELECT c_custkey, c_name,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |            AS BIGINT) AS revenue_c4,
      |       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
      |       n_name
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue_c4 DESC, c_custkey
      |LIMIT 20""".stripMargin

  def tpch10Q(s: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "nation")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch10Sql)
  }

  private val Tpch14Sql =
    """SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
      |                     THEN CAST(round(l_extendedprice * 100) AS BIGINT)
      |                          * (100 - CAST(round(l_discount * 100)
      |                                        AS BIGINT))
      |                     ELSE 0 END) AS BIGINT) AS promo_c4,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |            AS BIGINT) AS total_c4
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'""".stripMargin

  def tpch14Q(s: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part")
      .foreach(t => load(s, dir, t).createOrReplaceTempView(t))
    s.sql(Tpch14Sql)
  }

  // ----------------------------------------------------------------- Q-jl
  // Johnson–Lindenstrauss signed random projection
  // (Similarity.projectSigned): the ANN PREPROCESSING row — reduce the
  // embedding column before it hits IVF/PQ/int8, because at 100 TB the
  // dominant cost of every vector operator is embedding bytes moving
  // through scans and shuffles, and a 768→64 signed projection cuts
  // them 12× while preserving neighborhoods whp (JlProjectionSpec
  // measures recall instead of assuming the lemma). Exactness: ±1
  // signs (Achlioptas) over a fixed-point vector keep the whole
  // projection in BIGINT, and the sign matrix is sha-parity-derived,
  // so the ORACLE rebuilds the matrix independently in SQL and replays
  // the fold. Long-form output (vec_id, dim, v) totals n·dOut rows.
  // dOut = 32 (not 16): measured on this corpus, true-top-10-in-
  // projected-top-100 candidate recall is 0.71 at 32 dims vs 0.57 at
  // 16 — the clusters are tight, so inter-neighbor margins are small
  // and the ε ≈ √(8·ln n / d) distortion bites early. The spec pins
  // the measured floor; a deployment picks dOut from its ε budget.
  private val JlSeed = "jl0"
  private val JlDimOut = 32

  def jlQ(s: SparkSession, dir: String): DataFrame =
    Similarity.projectSigned(load(s, dir, "embeddings"), "embedding",
        dIn = 64, dOut = JlDimOut, seed = JlSeed)
      .select(col("vec_id"), posexplode(col("proj")))
      .select(col("vec_id"), col("pos").as("dim"), col("col").as("v"))
      .orderBy("vec_id", "dim")

  private val jlSql = {
    val sign = "CASE WHEN CAST(concat('0x', substr(sha256(" +
      s"'$JlSeed#' || CAST(j AS VARCHAR) || '#' || CAST(i AS VARCHAR)" +
      "), 1, 8)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
    s"""WITH e AS (SELECT vec_id,
       |             list_transform(embedding, v ->
       |               CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT))
       |               AS ef
       |           FROM embeddings),
       |js AS (SELECT j, list_transform(generate_series(0, 63), i ->
       |                  $sign) AS srow
       |       FROM generate_series(0, ${JlDimOut - 1}) t(j)),
       |p AS (SELECT vec_id, j AS dim,
       |             list_sum(list_transform(generate_series(1, 64),
       |               i -> ef[i] * srow[i])) AS v
       |      FROM e CROSS JOIN js)
       |SELECT vec_id, CAST(dim AS INTEGER) AS dim, CAST(v AS BIGINT) AS v
       |FROM p ORDER BY vec_id, dim""".stripMargin
  }

  // ---------------------------------------------------------- Q-snappoint
  // Bloom file skipping (Snapshot.publishSnapshotBloom /
  // readSnapshotPoint): min/max stats only skip when the key
  // correlates with layout; the per-file manifest BLOOM skips for ANY
  // key distribution. The fixture hash-partitions customers 8 ways on
  // c_custkey so names are SCATTERED (worst case for min/max), then a
  // point lookup on one name opens only admitting files (~1 + fp·7 of
  // 8; SnapshotTravelSpec pins the pruning) and the exact equality
  // filter kills false positives. ORACLE replays the predicate on the
  // seed, so a lost row at any skipped file diverges the hash.
  private val SnapPointDir = s"$FixtureRoot/snappoint"

  def snapPointQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapPointDir, dir) {
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(SnapPointDir)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
      graft.operators.Snapshot.publishSnapshotBloom(
        load(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
          .repartition(8, col("c_custkey")),
        SnapPointDir, keyCol = "c_name")
      ()
    }
    graft.operators.Snapshot
      .readSnapshotPoint(s, SnapPointDir, 1, "Customer#000000042")
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      .orderBy("c_custkey")
  }

  private val snapPointSql =
    """SELECT c_custkey, c_name,
      |       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |FROM customer WHERE c_name = 'Customer#000000042'
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------- Q-snappoint-app
  // Bloom-preserving APPEND (Snapshot.appendSnapshotIndexed — closes
  // the "appends strip the index, re-publish to restore" gap): the
  // even-custkey half publishes indexed (stats on c_custkey + bloom on
  // c_name), the odd half APPENDS through the indexed path (delta
  // blooms from the same one-pass builder, carried words verbatim, the
  // #bloom header survives) — then TWO point lookups, one landing in a
  // base file and one in a delta file, both pruned by manifest
  // arithmetic. ORACLE: the equality filter over the whole seed.
  private val SnapPointAppDir = s"$FixtureRoot/snappointapp"

  def snapPointAppQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapPointAppDir, dir) {
      wipeDir(SnapPointAppDir)
      val cust = load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      graft.operators.Snapshot.publishSnapshotIndexed(
        cust.filter(col("c_custkey") % 2 === 0)
          .repartition(4, col("c_custkey")),
        SnapPointAppDir, Seq("c_custkey"), "c_name")
      graft.operators.Snapshot.appendSnapshotIndexed(
        cust.filter(col("c_custkey") % 2 =!= 0)
          .repartition(4, col("c_custkey")),
        SnapPointAppDir)
      ()
    }
    graft.operators.Snapshot
      .readSnapshotPoint(s, SnapPointAppDir, 2, "Customer#000000042")
      .unionByName(graft.operators.Snapshot
        .readSnapshotPoint(s, SnapPointAppDir, 2, "Customer#000000043"))
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      .orderBy("c_custkey")
  }

  private val snapPointAppSql =
    """SELECT c_custkey, c_name,
      |       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |FROM customer
      |WHERE c_name IN ('Customer#000000042', 'Customer#000000043')
      |ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------------- Q-scenecut
  // Video scene-cut detection PLUMBING: frame grid (Multimodal
  // .sampleFrames — in-row explode, frames born next to their payload),
  // per-frame signature (deterministic sha-derived stub; a real codec
  // slots into decodePartition without touching the column math — the
  // q_phash posture), frame-over-frame lag diff per video, cut where
  // the signature jumps, scenes assembled gaps-and-islands style by a
  // running cut-count. ONE shuffle by video feeds both windows. The
  // seed plants piecewise-constant signatures (segment length varies
  // per video), so the detector must recover EXACTLY the planted
  // segmentation — and the oracle re-derives it independently.
  def sceneCutQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vids = load(s, dir, "part")
      .select(col("p_partkey").cast("long").as("vid"))
      .withColumn("dur_ms", (pmod(col("vid"), lit(20)) + 5) * 1000)
    val frames = graft.operators.Multimodal
      .sampleFrames(vids, col("dur_ms"), strideMs = 1000)
    // planted scene length (vid % 3 + 2 seconds) varies per video
    val sig = pmod(shaHash32(concat(col("vid").cast("string"), lit("#"),
      expr("frame_idx div (vid % 3 + 2)").cast("string"))), lit(256))
    val w = Window.partitionBy("vid").orderBy("frame_idx")
    frames
      .withColumn("sig", sig)
      .withColumn("cut",
        when(lag("sig", 1).over(w).isNull, 0)
          .when(lag("sig", 1).over(w) === col("sig"), 0).otherwise(1))
      .withColumn("scene",
        sum("cut").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("vid", "scene")
      .agg(min("t_ms").as("start_ms"), max("t_ms").as("last_ms"),
        count(lit(1)).as("n_frames"))
      .orderBy("vid", "scene")
  }

  private val sceneCutSql =
    s"""WITH v AS (SELECT CAST(p_partkey AS BIGINT) AS vid,
       |             (p_partkey % 20 + 5) * 1000 AS dur_ms
       |           FROM part),
       |f AS (SELECT vid, unnest(generate_series(0,
       |               (dur_ms - 1) // 1000)) AS frame_idx
       |      FROM v),
       |sg AS (SELECT vid, frame_idx, frame_idx * 1000 AS t_ms,
       |              ${sqlSh32("CAST(vid AS VARCHAR) || '#' || CAST(frame_idx // (vid % 3 + 2) AS VARCHAR)")} % 256 AS sig
       |       FROM f),
       |c AS (SELECT vid, frame_idx, t_ms,
       |             CASE WHEN lag(sig) OVER w IS NULL THEN 0
       |                  WHEN lag(sig) OVER w = sig THEN 0
       |                  ELSE 1 END AS cut
       |      FROM sg WINDOW w AS (PARTITION BY vid ORDER BY frame_idx)),
       |sc AS (SELECT vid, t_ms,
       |              sum(cut) OVER (PARTITION BY vid ORDER BY frame_idx
       |                             ROWS UNBOUNDED PRECEDING) AS scene
       |       FROM c)
       |SELECT vid, CAST(scene AS BIGINT) AS scene,
       |       CAST(min(t_ms) AS BIGINT) AS start_ms,
       |       CAST(max(t_ms) AS BIGINT) AS last_ms,
       |       CAST(count(*) AS BIGINT) AS n_frames
       |FROM sc GROUP BY vid, scene
       |ORDER BY vid, scene""".stripMargin

  // --------------------------------------------------------- Q-timetravel
  // Manifest-based snapshot isolation (Snapshot.publishSnapshot /
  // appendSnapshot / readSnapshot — Iceberg-lite): v1 publishes the
  // first 15 nations, v2 APPENDS the rest by manifest carry-forward
  // (v1's data files are referenced, not rewritten — the property that
  // makes appending a day to a petabyte table O(delta)). The gate
  // reads BOTH versions AFTER both publishes: v1 must still be
  // bit-identical to its publish-time content (time travel), v2 must
  // be the union. ORACLE derives both states from the seed table
  // (q_orc pattern: format-mangled or leaked rows diverge the hash).
  private val TimeTravelDir = s"$FixtureRoot/timetravel"

  private def ensureTimeTravelFixture(s: SparkSession, dir: String): Unit =
    publishOnce(TimeTravelDir, dir) {
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(TimeTravelDir)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
      val nation = load(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.operators.Snapshot.publishSnapshot(
        nation.filter(col("n_nationkey") < 15), TimeTravelDir)
      graft.operators.Snapshot.appendSnapshot(
        nation.filter(col("n_nationkey") >= 15), TimeTravelDir)
      ()
    }

  def timeTravelQ(s: SparkSession, dir: String): DataFrame = {
    ensureTimeTravelFixture(s, dir)
    val v1 = graft.operators.Snapshot.readSnapshot(s, TimeTravelDir, 1)
      .withColumn("version", lit(1))
    val v2 = graft.operators.Snapshot.readSnapshot(s, TimeTravelDir, 2)
      .withColumn("version", lit(2))
    v1.unionByName(v2).orderBy("version", "n_nationkey")
  }

  private val timeTravelSql =
    """SELECT n_nationkey, n_name, n_regionkey, 1 AS version FROM nation
      |WHERE n_nationkey < 15
      |UNION ALL
      |SELECT n_nationkey, n_name, n_regionkey, 2 FROM nation
      |ORDER BY version, n_nationkey""".stripMargin

  // --------------------------------------------------------- Q-snapdelta
  // Incremental snapshot consumption (Snapshot.changedBetween): "what
  // arrived between v1 and v2" answered by MANIFEST SET DIFFERENCE —
  // only the files v2 added are opened, no data diffed. For an
  // append-only history (the training-shard case) this is the exact
  // delta, at metadata cost. ORACLE derives the same delta from the
  // seed predicate that built the fixture's append.
  def snapDeltaQ(s: SparkSession, dir: String): DataFrame = {
    ensureTimeTravelFixture(s, dir)
    graft.operators.Snapshot.changedBetween(s, TimeTravelDir, 1, 2)
      .orderBy("n_nationkey")
  }

  private val snapDeltaSql =
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_nationkey >= 15 ORDER BY n_nationkey""".stripMargin

  // -------------------------------------------------------- Q-snapevolve
  // Snapshot schema evolution (add-column only): v1 publishes 3
  // columns, v2 APPENDS a batch carrying a new 4th column. The
  // manifest records each version's schema, so reading v2 applies the
  // evolved schema to every referenced file — v1's files (carried
  // forward BY REFERENCE, zero bytes rewritten) null-fill the new
  // column at scan time. This is the Iceberg/Delta add-column story on
  // the manifest layout: at 100 TB, evolving a corpus schema must
  // never rewrite history. Incompatible appends (dropped/retyped
  // fields) are rejected at publish (SnapshotTravelSpec). ORACLE
  // derives both slices from the seed table with an explicit NULL arm.
  private val SnapEvolveDir = s"$FixtureRoot/snapevolve"

  def snapEvolveQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapEvolveDir, dir) {
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(SnapEvolveDir)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
      val nation = load(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
      graft.operators.Snapshot.publishSnapshot(
        nation.filter(col("n_nationkey") < 15), SnapEvolveDir)
      graft.operators.Snapshot.appendSnapshot(
        nation.filter(col("n_nationkey") >= 15)
          .withColumn("name_len", length(col("n_name")).cast("long")),
        SnapEvolveDir)
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, SnapEvolveDir, 2)
      .orderBy("n_nationkey")
  }

  private val snapEvolveSql =
    """SELECT n_nationkey, n_name, n_regionkey,
      |       CAST(NULL AS BIGINT) AS name_len
      |FROM nation WHERE n_nationkey < 15
      |UNION ALL
      |SELECT n_nationkey, n_name, n_regionkey,
      |       CAST(length(n_name) AS BIGINT)
      |FROM nation WHERE n_nationkey >= 15
      |ORDER BY n_nationkey""".stripMargin

  // --------------------------------------------------------- Q-snapmerge
  // MERGE INTO on the snapshot layout (Snapshot.mergeSnapshot):
  // copy-on-write upsert — the base is published range-partitioned 8
  // ways with c_custkey stats, the update batch replaces every 37th
  // customer and inserts three new keys, and ONLY the files that
  // contain a touched key are rewritten; the rest carry forward by
  // reference (SnapshotTravelSpec pins the file accounting — at 100 TB
  // the merge is O(touched + updates), never O(table)). The gate reads
  // the merged version in full, so a lost survivor row, a leaked old
  // version of a replaced row, or a dropped insert diverges the hash.
  // ORACLE rebuilds the merged state from the seed with an explicit
  // VALUES arm for the inserts.
  // --------------------------------------------------- Q-snapreplace
  // Range replacement (Snapshot.replaceSnapshotRange — Delta's
  // replaceWhere / dynamic-partition overwrite on the manifest
  // layout): the daily-reload mutation. Base = customer snapshot
  // range-clustered 8 ways with c_custkey stats; the batch re-states
  // ONLY the even keys of [400, 700] (odd keys in range must
  // disappear — replacement is of the RANGE, not of matching keys,
  // the semantic that distinguishes it from MERGE). Files fully
  // inside the range drop by manifest arithmetic (zero bytes read),
  // disjoint files carry by reference, only edge-straddling files
  // re-read (SnapshotTravelSpec pins those counts). ORACLE = base
  // rows outside the range UNION ALL the batch, reconstructed from
  // the seed table.
  private val SnapReplaceDir = s"$FixtureRoot/snapreplace"

  def snapReplaceQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapReplaceDir, dir) {
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(SnapReplaceDir)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
      val cust = load(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.operators.Snapshot.publishSnapshot(
        cust.repartitionByRange(8, col("c_custkey")), SnapReplaceDir,
        statsCol = Some("c_custkey"))
      val batch = cust
        .filter(col("c_custkey").between(400L, 700L) &&
          col("c_custkey") % 2 === 0)
        .select(col("c_custkey"),
          concat(col("c_name"), lit("_r")).as("c_name"),
          (col("bal_cents") + 5000L).as("bal_cents"))
      graft.operators.Snapshot.replaceSnapshotRange(
        batch, SnapReplaceDir, 400L, 700L)
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, SnapReplaceDir, 2)
      .orderBy("c_custkey")
  }

  private val snapReplaceSql =
    """SELECT c_custkey, c_name, bal_cents FROM (
      |  SELECT c_custkey, c_name,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |  FROM customer WHERE c_custkey < 400 OR c_custkey > 700
      |  UNION ALL
      |  SELECT c_custkey, c_name || '_r',
      |         CAST(round(c_acctbal * 100) AS BIGINT) + 5000
      |  FROM customer
      |  WHERE c_custkey BETWEEN 400 AND 700 AND c_custkey % 2 = 0
      |) ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------ Q-snapmor(_rec)
  // MERGE-ON-READ on the snapshot layout (Snapshot.mergeSnapshotMoR /
  // deleteSnapshotMoR / reconcileSnapshotMoR — the Iceberg-v2/Hudi
  // write path): three chained O(batch) commits that touch NO base
  // file — an upsert merge (keys %7), a row-level DELETE (keys %11),
  // and a second merge (keys %5, + one insert) — then the transparent
  // read-time resolve (q_snapmor) and the O(touched) reconcile back to
  // copy-on-write (q_snapmor_rec reads the SAME state from the
  // reconciled, tombstone-free version — one oracle, two protocols).
  // Sequencing under test: the %5 merge must win over the %11 delete,
  // which must win over the %7 merge, exactly latest-touch-wins.
  // ORACLE rebuilds the final state from the seed with a CASE over the
  // divisibility chain plus the insert arm.
  private val SnapMorDir = s"$FixtureRoot/snapmor"
  private val SnapMorRecDir = s"$FixtureRoot/snapmorrec"

  private def wipeDir(path: String): Unit = {
    import java.nio.file.{Files => JF, Paths}
    val base = Paths.get(path)
    if (JF.exists(base)) {
      val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
      it.forEach(p => JF.delete(p))
    }
  }

  private def snapMorChain(s: SparkSession, dir: String,
                           dest: String): Unit = {
    wipeDir(dest)
    val cust = load(s, dir, "customer").select(
      col("c_custkey"), col("c_name"),
      round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    graft.operators.Snapshot.publishSnapshot(
      cust.repartitionByRange(8, col("c_custkey")), dest,
      statsCol = Some("c_custkey"))
    graft.operators.Snapshot.mergeSnapshotMoR(
      cust.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"),
          concat(col("c_name"), lit("_a")).as("c_name"),
          (col("bal_cents") + 100L).as("bal_cents")),
      dest, "c_custkey")
    graft.operators.Snapshot.deleteSnapshotMoR(
      cust.filter(col("c_custkey") % 11 === 0).select("c_custkey"),
      dest, "c_custkey")
    graft.operators.Snapshot.mergeSnapshotMoR(
      cust.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"),
          concat(col("c_name"), lit("_b")).as("c_name"),
          (col("bal_cents") + 200L).as("bal_cents"))
        .unionByName(s.range(1).select(
          lit(10000003L).as("c_custkey"), lit("ins").as("c_name"),
          lit(1234L).as("bal_cents"))),
      dest, "c_custkey")
    ()
  }

  def snapMorQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapMorDir, dir) { snapMorChain(s, dir, SnapMorDir) }
    graft.operators.Snapshot.readSnapshot(s, SnapMorDir, 4)
      .orderBy("c_custkey")
  }

  def snapMorRecQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapMorRecDir, dir) {
      snapMorChain(s, dir, SnapMorRecDir)
      graft.operators.Snapshot.reconcileSnapshotMoR(s, SnapMorRecDir)
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, SnapMorRecDir, 5)
      .orderBy("c_custkey")
  }

  private val snapMorSql =
    """SELECT c_custkey, c_name, bal_cents FROM (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 5 = 0 THEN c_name || '_b'
      |              WHEN c_custkey % 7 = 0 THEN c_name || '_a'
      |              ELSE c_name END AS c_name,
      |         CAST(round(c_acctbal * 100) AS BIGINT) +
      |           CASE WHEN c_custkey % 5 = 0 THEN 200
      |                WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS bal_cents
      |  FROM customer
      |  WHERE c_custkey % 5 = 0 OR c_custkey % 11 <> 0
      |  UNION ALL
      |  SELECT 10000003, 'ins', 1234
      |) ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------- Q-snapmor_del
  // Predicate-level DELETE on the merge-on-read path
  // (Snapshot.deleteSnapshotMoRWhere — Delta's DELETE WHERE, completing
  // the MoR DML triple): after an upsert merge (%7 keys, +100 cents), a
  // compound predicate (custkey range AND balance divisible by 3)
  // deletes by CURRENT state — the upsert log is resolved before the
  // predicate evaluates, so a key whose latest balance moved off a
  // multiple of 3 is spared; the matched keys commit as ONE tombstone
  // set, zero base files rewritten, and the key scan opens only
  // manifest files overlapping the [40, 120] bound folded from the
  // predicate's conjuncts (stats pruning, SnapshotDeleteWhereSpec).
  // ORACLE replays upsert-then-delete from the seed.
  private val SnapMorDelDir = s"$FixtureRoot/snapmordel"

  def snapMorDelQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapMorDelDir, dir) {
      wipeDir(SnapMorDelDir)
      val cust = load(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.operators.Snapshot.publishSnapshot(
        cust.repartitionByRange(8, col("c_custkey")), SnapMorDelDir,
        statsCol = Some("c_custkey"))
      graft.operators.Snapshot.mergeSnapshotMoR(
        cust.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"),
            concat(col("c_name"), lit("_a")).as("c_name"),
            (col("bal_cents") + 100L).as("bal_cents")),
        SnapMorDelDir, "c_custkey")
      graft.operators.Snapshot.deleteSnapshotMoRWhere(s, SnapMorDelDir,
        "c_custkey",
        col("c_custkey") >= 40L && col("c_custkey") <= 120L &&
          col("bal_cents") % 3L === 0L)
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, SnapMorDelDir,
      graft.operators.Snapshot.latestVersion(s, SnapMorDelDir))
      .orderBy("c_custkey")
  }

  private val snapMorDelSql =
    """SELECT c_custkey, c_name, bal_cents FROM (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 7 = 0 THEN c_name || '_a'
      |              ELSE c_name END AS c_name,
      |         CAST(round(c_acctbal * 100) AS BIGINT) +
      |           CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS bal_cents
      |  FROM customer
      |) WHERE NOT (c_custkey BETWEEN 40 AND 120 AND bal_cents % 3 = 0)
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------- Q-snapmor_upd
  // Predicate-level UPDATE on the merge-on-read path
  // (Snapshot.updateSnapshotMoRWhere — Delta's UPDATE WHERE, closing
  // the MoR DML quartet): after the %7 upsert merge, rows whose
  // CURRENT balance (post-merge) is divisible by 3 inside custkey
  // [40, 120] get a self-referencing SET (bal += 7, name ||= '_u') —
  // one O(matches) tombstone+re-insert commit, zero base rewrites,
  // stats-pruned scan. ORACLE replays merge-then-update from the seed.
  private val SnapMorUpdDir = s"$FixtureRoot/snapmorupd"

  def snapMorUpdQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapMorUpdDir, dir) {
      wipeDir(SnapMorUpdDir)
      val cust = load(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.operators.Snapshot.publishSnapshot(
        cust.repartitionByRange(8, col("c_custkey")), SnapMorUpdDir,
        statsCol = Some("c_custkey"))
      graft.operators.Snapshot.mergeSnapshotMoR(
        cust.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"),
            concat(col("c_name"), lit("_a")).as("c_name"),
            (col("bal_cents") + 100L).as("bal_cents")),
        SnapMorUpdDir, "c_custkey")
      graft.operators.Snapshot.updateSnapshotMoRWhere(s, SnapMorUpdDir,
        "c_custkey",
        col("c_custkey") >= 40L && col("c_custkey") <= 120L &&
          col("bal_cents") % 3L === 0L,
        Map("bal_cents" -> (col("bal_cents") + 7L),
          "c_name" -> concat(col("c_name"), lit("_u"))))
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, SnapMorUpdDir,
      graft.operators.Snapshot.latestVersion(s, SnapMorUpdDir))
      .orderBy("c_custkey")
  }

  private val snapMorUpdSql =
    """SELECT c_custkey,
      |       CASE WHEN c_custkey BETWEEN 40 AND 120 AND bal_cents % 3 = 0
      |            THEN c_name || '_u' ELSE c_name END AS c_name,
      |       CASE WHEN c_custkey BETWEEN 40 AND 120 AND bal_cents % 3 = 0
      |            THEN bal_cents + 7 ELSE bal_cents END AS bal_cents
      |FROM (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 7 = 0 THEN c_name || '_a'
      |              ELSE c_name END AS c_name,
      |         CAST(round(c_acctbal * 100) AS BIGINT) +
      |           CASE WHEN c_custkey % 7 = 0 THEN 100 ELSE 0 END AS bal_cents
      |  FROM customer
      |) ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------- Q-txn
  // MULTI-TABLE ATOMIC TRANSACTIONS (SnapshotTxn) — the reference's
  // registration unit of work (ref register-omero.py:58-61: sample +
  // dataset + link land as ONE transaction) on the manifest layout.
  // Three tables (samples, datasets, edges) take three order slices:
  //   txn1 commits normally;
  //   txn2 stages all three tables and CRASHES before the commit point
  //        → must be invisible everywhere;
  //   txn3 crosses the commit point (one txn-manifest publish) and
  //        CRASHES before finalization → the reader's recovery rolls
  //        ALL THREE tables forward.
  // The gate reads through the txn log (readLatest = recover + read)
  // and aggregates per table; the ORACLE replays the all-or-nothing
  // outcome — slices 0 and 2, never any part of slice 1.
  private val TxnRootDir = s"$FixtureRoot/txnroot"
  private val TxnSamplesDir = s"$FixtureRoot/txnsamples"
  private val TxnDatasetsDir = s"$FixtureRoot/txndatasets"
  private val TxnEdgesDir = s"$FixtureRoot/txnedges"

  def txnQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(TxnRootDir, dir) {
      Seq(TxnRootDir, TxnSamplesDir, TxnDatasetsDir, TxnEdgesDir)
        .foreach(wipeDir)
      val ord = load(s, dir, "orders").select(
        col("o_orderkey").as("ds_id"), col("o_custkey").as("sample_id"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def slice(r: Int) = ord.filter(col("ds_id") % 3 === r)
      def stage(t: graft.operators.SnapshotTxn, r: Int,
                publish: Boolean): Unit = {
        val sl = slice(r)
        if (publish) {
          t.stagePublish(sl.select("sample_id"), TxnSamplesDir)
          t.stagePublish(sl.select("ds_id", "cents"), TxnDatasetsDir,
            statsCol = Some("ds_id"))
          t.stagePublish(sl.select("ds_id", "sample_id"), TxnEdgesDir)
        } else {
          t.stageAppend(sl.select("sample_id"), TxnSamplesDir)
          t.stageAppend(sl.select("ds_id", "cents"), TxnDatasetsDir)
          t.stageAppend(sl.select("ds_id", "sample_id"), TxnEdgesDir)
        }
      }
      val t1 = graft.operators.SnapshotTxn.begin(s, TxnRootDir)
      stage(t1, 0, publish = true); t1.commit()
      val t2 = graft.operators.SnapshotTxn.begin(s, TxnRootDir)
      stage(t2, 1, publish = false) // "crash": never commits
      val t3 = graft.operators.SnapshotTxn.begin(s, TxnRootDir)
      stage(t3, 2, publish = false)
      t3.commitNoFinalize() // "crash" after the atomic commit point
      ()
    }
    // read ALL THREE tables through ONE pinned txn id (asOfTxn): the
    // consistent multi-table snapshot — t3's crashed-after-commit-point
    // txn is rolled forward by the bundled recover and counted, t2's
    // never-committed staging is invisible. readLatest covers the
    // single-table face on samples (same recover path). The pin is
    // resolved by TIMESTAMP (txnAsOfTime at +∞ ≡ the head txn) —
    // the cross-table historical-read face.
    val k = graft.operators.SnapshotTxn
      .txnAsOfTime(s, TxnRootDir, Long.MaxValue).get
    val samples = graft.operators.SnapshotTxn.readLatest(
      s, TxnRootDir, TxnSamplesDir)
    val datasets = graft.operators.SnapshotTxn.readAsOfTxn(
      s, TxnRootDir, k, TxnDatasetsDir)
    val edges = graft.operators.SnapshotTxn.readAsOfTxn(
      s, TxnRootDir, k, TxnEdgesDir)
    samples.agg(lit("samples").as("tbl"),
        count(lit(1)).as("n"), sum(col("sample_id")).as("s"))
      .unionByName(datasets.agg(lit("datasets").as("tbl"),
        count(lit(1)).as("n"), sum(col("cents")).as("s")))
      .unionByName(edges.agg(lit("edges").as("tbl"), count(lit(1)).as("n"),
        sum(col("ds_id") + col("sample_id")).as("s")))
      .orderBy("tbl")
  }

  private val txnSql =
    """WITH sel AS (SELECT o_orderkey AS ds_id, o_custkey AS sample_id,
      |                    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |             FROM orders WHERE o_orderkey % 3 IN (0, 2))
      |SELECT tbl, n, s FROM (
      |  SELECT 'samples' AS tbl, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(sample_id) AS BIGINT) AS s FROM sel
      |  UNION ALL
      |  SELECT 'datasets', CAST(count(*) AS BIGINT),
      |         CAST(sum(cents) AS BIGINT) FROM sel
      |  UNION ALL
      |  SELECT 'edges', CAST(count(*) AS BIGINT),
      |         CAST(sum(ds_id + sample_id) AS BIGINT) FROM sel
      |) ORDER BY tbl""".stripMargin

  // ----------------------------------------------------------- Q-txn-mor
  // TRANSACTIONAL MERGE-ON-READ DML (SnapshotTxn.stageMerge/stageDelete
  // — the reference's mutate-and-register unit of work, e.g.
  // register-hlatyping.py:119-128: a property mutation on an EXISTING
  // entity and a dataset registration must commit or roll back
  // together). Three tables: samples take staged MoR upserts, tags a
  // staged keyed delete, datasets plain staged appends. txn1 commits
  // (%10 bonus), txn2 stages a poison mutation (%5 -> -999) and
  // "crashes" before its commit point (must stay invisible), txn3
  // re-merges %7 (cents doubled FROM THE SEED — whole-row replace wins
  // over txn1's bonus at overlaps), deletes %3 tags, appends the last
  // dataset slice, and crashes right AFTER the commit point. All three
  // tables are then read through ONE pinned txn id (readAsOfTxn —
  // recovery rolls txn3 forward mid-read). ORACLE replays exactly the
  // committed transactions on the seed.
  private val TxnMorRoot = s"$FixtureRoot/txnmroot"
  private val TxnMorSamples = s"$FixtureRoot/txnmsamples"
  private val TxnMorDatasets = s"$FixtureRoot/txnmdatasets"
  private val TxnMorTags = s"$FixtureRoot/txnmtags"

  private def ensureTxnMorFixture(s: SparkSession, dir: String): Unit = {
    val T = graft.operators.SnapshotTxn
    publishOnce(TxnMorRoot, dir) {
      Seq(TxnMorRoot, TxnMorSamples, TxnMorDatasets, TxnMorTags)
        .foreach(wipeDir)
      val cust = load(s, dir, "customer").select(
        col("c_custkey").cast("long").as("sid"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val ord = load(s, dir, "orders").select(
        col("o_orderkey").as("did"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def dslice(r: Int) = ord.filter(col("did") % 3 === r)
      graft.operators.Snapshot.publishSnapshot(cust, TxnMorSamples)
      graft.operators.Snapshot.publishSnapshot(dslice(0), TxnMorDatasets)
      graft.operators.Snapshot.publishSnapshot(
        cust.select("sid"), TxnMorTags)
      val t1 = T.begin(s, TxnMorRoot)
      t1.stageMerge(cust.filter(col("sid") % 10 === 0)
        .select(col("sid"), (col("cents") + 1000).as("cents")),
        TxnMorSamples, "sid")
      t1.stageAppend(dslice(1), TxnMorDatasets)
      t1.commit()
      val t2 = T.begin(s, TxnMorRoot) // poison txn: never commits
      t2.stageMerge(cust.filter(col("sid") % 5 === 0)
        .select(col("sid"), lit(-999L).as("cents")),
        TxnMorSamples, "sid")
      t2.stageAppend(dslice(2), TxnMorDatasets)
      val t3 = T.begin(s, TxnMorRoot)
      t3.stageMerge(cust.filter(col("sid") % 7 === 0)
        .select(col("sid"), (col("cents") * 2).as("cents")),
        TxnMorSamples, "sid")
      t3.stageDelete(cust.filter(col("sid") % 3 === 0).select("sid"),
        TxnMorTags, "sid")
      t3.stageAppend(dslice(2), TxnMorDatasets)
      t3.commitNoFinalize() // "crash" after the atomic commit point
      ()
    }
  }

  def txnMorQ(s: SparkSession, dir: String): DataFrame = {
    val T = graft.operators.SnapshotTxn
    ensureTxnMorFixture(s, dir)
    val k = T.latestTxn(s, TxnMorRoot)
    val samples = T.readAsOfTxn(s, TxnMorRoot, k, TxnMorSamples)
    val datasets = T.readAsOfTxn(s, TxnMorRoot, k, TxnMorDatasets)
    val tags = T.readAsOfTxn(s, TxnMorRoot, k, TxnMorTags)
    datasets.agg(lit("datasets").as("tbl"), count(lit(1)).as("n"),
        sum(col("cents")).as("s"))
      .unionByName(samples.agg(lit("samples").as("tbl"),
        count(lit(1)).as("n"), sum(col("cents")).as("s")))
      .unionByName(tags.agg(lit("tags").as("tbl"),
        count(lit(1)).as("n"), sum(col("sid")).as("s")))
      .orderBy("tbl")
  }

  private val txnMorSql =
    """WITH c AS (SELECT c_custkey AS sid,
      |                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |           FROM customer),
      |smp AS (SELECT sid, CASE WHEN sid % 7 = 0 THEN cents * 2
      |                         WHEN sid % 10 = 0 THEN cents + 1000
      |                         ELSE cents END AS cents FROM c),
      |d AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders)
      |SELECT tbl, n, s FROM (
      |  SELECT 'datasets' AS tbl, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(cents) AS BIGINT) AS s FROM d
      |  UNION ALL
      |  SELECT 'samples', CAST(count(*) AS BIGINT),
      |         CAST(sum(cents) AS BIGINT) FROM smp
      |  UNION ALL
      |  SELECT 'tags', CAST(count(*) AS BIGINT),
      |         CAST(sum(sid) AS BIGINT) FROM c WHERE sid % 3 <> 0
      |) ORDER BY tbl""".stripMargin

  // ------------------------------------------------------- Q-txn-cdc
  // TRANSACTION-CONSISTENT CDC (SnapshotTxnCdc.pump): a consumer
  // follows the q_txn_mor fixture's txn LOG in one-txn windows and
  // receives every enrolled table's change events TOGETHER — window 1
  // bootstraps samples+datasets (full state at their txn-1 versions,
  // as inserts), window 2 delivers the %7 upsert postimages, the
  // dataset appends, and tags' late-enrollment bootstrap (its full
  // post-delete state). The poison txn (crashed before its commit
  // point) is invisible; the crashed-AFTER-commit-point txn is rolled
  // forward by the pump's bundled recovery and delivered. Output: one
  // row per (window, table) with event count, delete-event count, and
  // a value checksum. ORACLE replays the exact windows from the seed.
  def txnCdcQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ensureTxnMorFixture(s, dir)
    val ckp = s"$FixtureRoot/txncdcckp"
    wipeDir(ckp)
    val out = scala.collection.mutable.ListBuffer
      .empty[(Int, String, Long, Long, Long)]
    graft.operators.SnapshotTxnCdc.pump(s, TxnMorRoot, ckp,
        maxTxnsPerBatch = 1) { d =>
      d.tables.toSeq.sortBy(_._1).foreach { case (t, ev) =>
        val tbl = t.split("/").last.stripPrefix("txnm")
        val valueCol =
          if (tbl == "tags") col("sid") else col("cents")
        val r = ev.agg(
          count(lit(1)),
          count(when(col("_change_type") === "delete", lit(1))),
          sum(when(col("_change_type") =!= "delete", valueCol))).head()
        out += ((d.toTxn, tbl, r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2)))
      }
    }
    out.toSeq.toDF("txn", "tbl", "n_events", "n_del", "s")
      .orderBy("txn", "tbl")
  }

  private val txnCdcSql =
    """WITH c AS (SELECT c_custkey AS sid,
      |                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |           FROM customer),
      |smp1 AS (SELECT sid, CASE WHEN sid % 10 = 0 THEN cents + 1000
      |                          ELSE cents END AS cents FROM c),
      |d AS (SELECT o_orderkey AS did,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders)
      |SELECT txn, tbl, n_events, n_del, s FROM (
      |  SELECT 1 AS txn, 'datasets' AS tbl,
      |         CAST(count(*) AS BIGINT) AS n_events,
      |         CAST(0 AS BIGINT) AS n_del,
      |         CAST(sum(cents) AS BIGINT) AS s
      |  FROM d WHERE did % 3 IN (0, 1)
      |  UNION ALL
      |  SELECT 1, 'samples', CAST(count(*) AS BIGINT), 0,
      |         CAST(sum(cents) AS BIGINT) FROM smp1
      |  UNION ALL
      |  SELECT 2, 'datasets', CAST(count(*) AS BIGINT), 0,
      |         CAST(sum(cents) AS BIGINT) FROM d WHERE did % 3 = 2
      |  UNION ALL
      |  SELECT 2, 'samples', CAST(count(*) AS BIGINT), 0,
      |         CAST(sum(cents * 2) AS BIGINT) FROM c WHERE sid % 7 = 0
      |  UNION ALL
      |  SELECT 2, 'tags', CAST(count(*) AS BIGINT), 0,
      |         CAST(sum(sid) AS BIGINT) FROM c WHERE sid % 3 <> 0
      |) ORDER BY txn, tbl""".stripMargin

  // ----------------------------------------------------- Q-stream-txn
  // STREAMING MULTI-TABLE TRANSACTIONS (Ingest.txnStream): the
  // reference's registration unit of work — per-user sample upsert +
  // dataset append — atomic per MICRO-BATCH across two tables, with
  // kill-injection at both crash points: batch 1 first crashes BEFORE
  // the commit point (the stream dies mid-batch; staged bytes are
  // invisible orphans), then a direct replay of batch 1 crashes right
  // AFTER the commit point (txn committed, tables not finalized), and
  // the restarted stream replays it as tag-guarded recovery-only
  // before processing batch 2 normally. A txn-pinned read
  // (txnAsOfTime → readAsOfTxn) aggregates both tables; the ORACLE
  // replays all three batches' all-or-nothing outcome.
  private val StreamTxnOut = s"$FixtureRoot/stream_txn_out"

  def streamTxnQ(s: SparkSession, dir: String): DataFrame = {
    ensureScd2Fixture(s, dir)
    val T = graft.operators.SnapshotTxn
    val (root, smpDir, dsDir) =
      (s"$StreamTxnOut/root", s"$StreamTxnOut/s", s"$StreamTxnOut/d")
    publishOnce(StreamTxnOut, dir) {
      wipeDir(StreamTxnOut)
      val stage: (graft.operators.SnapshotTxn, DataFrame, Long) => Unit =
        (t, b, _) => {
          val shaped = b
            .withColumn("us", unix_micros(col("ts").cast("timestamp")))
            .select(col("user_id"), col("event_id"),
              round(col("value") * 100).cast("long").as("cents"),
              col("us"))
          val smp = shaped
            .withColumn("__rn", expr(
              "row_number() over (partition by user_id " +
                "order by us desc, event_id desc)"))
            .filter(col("__rn") === 1)
            .select("user_id", "event_id", "cents")
          val ds = shaped.select("event_id", "user_id", "cents")
          if (graft.operators.Snapshot.latestVersion(s, smpDir) == 0) {
            t.stagePublish(smp, smpDir); t.stagePublish(ds, dsDir)
          } else {
            t.stageMerge(smp, smpDir, "user_id")
            t.stageAppend(ds, dsDir)
          }
        }
      // run 1: batch 0 commits; batch 1 crashes AFTER staging, BEFORE
      // the commit point — the stream dies, nothing of batch 1 visible
      try graft.streaming.Ingest.txnStream(s, StreamScd2Src,
        "batch*.parquet", root, s"$StreamTxnOut/chk", (t, b, id) => {
          stage(t, b, id)
          if (id == 1L)
            throw new RuntimeException("injected crash before commit point")
        })
      catch {
        case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).take(16).exists(t =>
            t.getMessage != null && t.getMessage.contains("injected")) =>
      }
      // batch 1 replays and this time dies right AFTER the atomic
      // commit point (txn committed, no table finalized)
      graft.streaming.Ingest.applyTxnBatch(s, root,
        s.read.parquet(s"$StreamScd2Src/batch1.parquet"), 1L,
        crashAfterCommitPoint = true)(stage)
      // a sanctioned batch-writer txn lands on the SAME log between the
      // crashed commit and the replay, BURYING the batch tag below the
      // head (the r14 replay-guard hole): it touches only a side table,
      // so the aggregate below is unchanged iff the replay is
      // exactly-once — a double-applied batch 1 would double the
      // datasets rollup
      val ft = T.begin(s, root)
      ft.stagePublish(s.range(1).toDF("x"), s"$StreamTxnOut/aux")
      ft.commit(tag = Some("maintenance"))
      // run 2: the restarted stream replays batch 1 (watermark-guarded
      // recovery-only, across the buried tag) and processes batch 2
      // normally
      graft.streaming.Ingest.txnStream(s, StreamScd2Src,
        "batch*.parquet", root, s"$StreamTxnOut/chk", stage)
      ()
    }
    // txn-level timestamp resolution pins the consistent read
    val k = T.txnAsOfTime(s, root, Long.MaxValue).get
    val smp = T.readAsOfTxn(s, root, k, smpDir)
    val ds = T.readAsOfTxn(s, root, k, dsDir)
    smp.agg(lit("samples").as("tbl"), count(lit(1)).as("n"),
        sum(col("cents")).as("c"), sum(col("event_id")).as("ev"))
      .unionByName(ds.agg(lit("datasets").as("tbl"),
        count(lit(1)).as("n"), sum(col("cents")).as("c"),
        sum(col("event_id")).as("ev")))
      .orderBy("tbl")
  }

  private val streamTxnSql =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
      |             CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |r AS (SELECT user_id, event_id, cents,
      |             row_number() OVER (PARTITION BY user_id
      |               ORDER BY us DESC, event_id DESC) AS rn FROM e)
      |SELECT tbl, n, c, ev FROM (
      |  SELECT 'datasets' AS tbl, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(cents) AS BIGINT) AS c,
      |         CAST(sum(event_id) AS BIGINT) AS ev FROM e
      |  UNION ALL
      |  SELECT 'samples', CAST(count(*) AS BIGINT),
      |         CAST(sum(cents) AS BIGINT),
      |         CAST(sum(event_id) AS BIGINT) FROM r WHERE rn = 1
      |) ORDER BY tbl""".stripMargin

  // -------------------------------------------------------- Q-txn-mv
  // TXN-CONSISTENT MATERIALIZED VIEW (MaterializedView.
  // refreshTxnJoinView over SnapshotTxnCdc.pump): the reference's
  // experimental-design report — one row per sample with its dataset
  // count and value rollup — maintained from the TRANSACTION log in
  // one-txn windows, so a registration's sample upsert and dataset
  // appends reach the view together, never as halves. The run injects
  // BOTH crash classes: the producer of txn 3 dies right after its
  // commit point (the pump's recovery feeds it to the view anyway),
  // and the consumer dies between window 2's view commit and its
  // watermark advance (the replayed window tag-skips). ORACLE: the
  // committed transactions replayed as one left-join rollup.
  private val TxnMvOut = s"$FixtureRoot/txn_mv_out"

  def txnMvQ(s: SparkSession, dir: String): DataFrame = {
    val T = graft.operators.SnapshotTxn
    val MV = graft.operators.MaterializedView
    val (root, smpDir, dsDir, mvDir, ckp) =
      (s"$TxnMvOut/root", s"$TxnMvOut/s", s"$TxnMvOut/d",
        s"$TxnMvOut/mv", s"$TxnMvOut/ckp")
    publishOnce(TxnMvOut, dir) {
      wipeDir(TxnMvOut)
      val cust = load(s, dir, "customer").select(
        col("c_custkey").cast("long").as("sid"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val ord = load(s, dir, "orders").select(
        col("o_orderkey").as("did"),
        col("o_custkey").cast("long").as("sid"),
        round(col("o_totalprice") * 100).cast("long").as("dcents"))
      def dslice(r: Int) = ord.filter(col("did") % 3 === r)
      val t1 = T.begin(s, root)
      // BOTH sides range-clustered + stats on the group key: window
      // recomputes prune the dataset scan by manifest range arithmetic
      // and the (live-tombstoned) samples scan via the MoR-transparent
      // predicate read
      t1.stagePublish(cust.repartitionByRange(4, col("sid")), smpDir,
        statsCol = Some("sid"))
      t1.stagePublish(dslice(0).repartitionByRange(4, col("sid")),
        dsDir, statsCol = Some("sid"))
      t1.commit()
      val t2 = T.begin(s, root)
      t2.stageMerge(cust.filter(col("sid") % 10 === 0)
        .select(col("sid"), (col("cents") + 1000).as("cents")),
        smpDir, "sid")
      t2.stageAppend(dslice(1), dsDir)
      t2.commit()
      val t3 = T.begin(s, root)
      t3.stageDelete(cust.filter(col("sid") % 7 === 0).select("sid"),
        smpDir, "sid")
      t3.stageAppend(dslice(2), dsDir)
      t3.commitNoFinalize() // producer dies after the commit point
      // consumer run 1: dies between window 2's view commit and its
      // watermark advance
      try {
        graft.operators.SnapshotTxnCdc.pump(s, root, ckp,
            maxTxnsPerBatch = 1) { d =>
          MV.applyTxnJoinWindow(s, d, smpDir, dsDir, mvDir,
            "sid", Seq("cents"), "sid", "dcents")
          if (d.toTxn == 2)
            throw new RuntimeException("injected mid-pump crash")
        }
        ()
      } catch {
        case e: RuntimeException if e.getMessage.contains("injected") =>
      }
      // consumer run 2: window 2 replays (tag-skip), window 3 applies
      MV.refreshTxnJoinView(s, root, smpDir, dsDir, mvDir, ckp,
        "sid", Seq("cents"), "sid", "dcents", maxTxnsPerBatch = 1)
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, mvDir,
      graft.operators.Snapshot.latestVersion(s, mvDir))
      .orderBy("sid")
  }

  private val txnMvSql =
    """WITH c AS (SELECT c_custkey AS sid,
      |                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |           FROM customer),
      |smp AS (SELECT sid, CASE WHEN sid % 10 = 0 THEN cents + 1000
      |                         ELSE cents END AS cents
      |        FROM c WHERE sid % 7 <> 0),
      |d AS (SELECT o_custkey AS sid,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS dcents
      |      FROM orders),
      |g AS (SELECT sid, CAST(count(*) AS BIGINT) AS n_ds,
      |             CAST(sum(dcents) AS BIGINT) AS total
      |      FROM d GROUP BY sid)
      |SELECT smp.sid, smp.cents, COALESCE(g.n_ds, 0) AS n_ds,
      |       COALESCE(g.total, 0) AS total
      |FROM smp LEFT JOIN g USING (sid) ORDER BY sid""".stripMargin

  // ------------------------------------------------------ Q-txn-mv2
  // GENERALIZED TXN-CONSISTENT VIEW (MaterializedView.refreshTxnView
  // over a TxnViewSpec): the reference report's ACTUAL shape — property
  // projection + VOCABULARY DECODE (get-experimental-design-tsv/
  // script.py:42-51,60-94) + a caller-supplied aggregate list (count,
  // sum, max) — maintained from the transaction log with the same two
  // crash injections as q_txn_mv (producer dies after its commit
  // point; consumer dies between a view commit and its watermark).
  // ORACLE: the committed transactions replayed as one decoded
  // left-join rollup.
  private val TxnMv2Out = s"$FixtureRoot/txn_mv2_out"

  def txnMv2Q(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val T = graft.operators.SnapshotTxn
    val MV = graft.operators.MaterializedView
    val (root, smpDir, dsDir, mvDir, ckp) =
      (s"$TxnMv2Out/root", s"$TxnMv2Out/s", s"$TxnMv2Out/d",
        s"$TxnMv2Out/mv", s"$TxnMv2Out/ckp")
    val vocab = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"),
      (3L, "delta")).toDF("grp", "gname")
    val spec = MV.TxnViewSpec("sid", Seq("cents", "grp"), "sid",
      Seq(MV.TxnViewAgg("n_ds", count(lit(1)), lit(0L)),
        MV.TxnViewAgg("total", sum(col("dcents").cast("long")), lit(0L)),
        MV.TxnViewAgg("mx", max(col("dcents").cast("long")), lit(0L))),
      Seq(MV.TxnViewDim(vocab, "grp", Seq("gname"))))
    publishOnce(TxnMv2Out, dir) {
      wipeDir(TxnMv2Out)
      val cust = load(s, dir, "customer").select(
        col("c_custkey").cast("long").as("sid"),
        round(col("c_acctbal") * 100).cast("long").as("cents"),
        (col("c_custkey").cast("long") % 4).as("grp"))
      val ord = load(s, dir, "orders").select(
        col("o_orderkey").as("did"),
        col("o_custkey").cast("long").as("sid"),
        round(col("o_totalprice") * 100).cast("long").as("dcents"))
      def dslice(r: Int) = ord.filter(col("did") % 3 === r)
      val t1 = T.begin(s, root)
      t1.stagePublish(cust.repartitionByRange(4, col("sid")), smpDir,
        statsCol = Some("sid"))
      t1.stagePublish(dslice(0).repartitionByRange(4, col("sid")),
        dsDir, statsCol = Some("sid"))
      t1.commit()
      val t2 = T.begin(s, root)
      t2.stageMerge(cust.filter(col("sid") % 10 === 0)
        .select(col("sid"), (col("cents") + 1000).as("cents"), col("grp")),
        smpDir, "sid")
      t2.stageAppend(dslice(1), dsDir)
      t2.commit()
      val t3 = T.begin(s, root)
      t3.stageDelete(cust.filter(col("sid") % 7 === 0).select("sid"),
        smpDir, "sid")
      t3.stageAppend(dslice(2), dsDir)
      t3.commitNoFinalize() // producer dies after the commit point
      // consumer run 1: dies between window 2's view commit and its
      // watermark advance
      try {
        graft.operators.SnapshotTxnCdc.pump(s, root, ckp,
            maxTxnsPerBatch = 1) { d =>
          MV.applyTxnViewWindow(s, d, smpDir, dsDir, mvDir, spec)
          if (d.toTxn == 2)
            throw new RuntimeException("injected mid-pump crash")
        }
        ()
      } catch {
        case e: RuntimeException if e.getMessage.contains("injected") =>
      }
      // consumer run 2: window 2 replays (tag-skip), window 3 applies
      MV.refreshTxnView(s, root, smpDir, dsDir, mvDir, ckp, spec,
        maxTxnsPerBatch = 1)
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, mvDir,
      graft.operators.Snapshot.latestVersion(s, mvDir))
      .orderBy("sid")
  }

  private val txnMv2Sql =
    """WITH c AS (SELECT c_custkey AS sid,
      |                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
      |                  CAST(c_custkey % 4 AS BIGINT) AS grp
      |           FROM customer),
      |smp AS (SELECT sid, CASE WHEN sid % 10 = 0 THEN cents + 1000
      |                         ELSE cents END AS cents, grp
      |        FROM c WHERE sid % 7 <> 0),
      |v AS (SELECT CAST(x AS BIGINT) AS grp, gname
      |      FROM (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma'),
      |                   (3, 'delta')) t(x, gname)),
      |d AS (SELECT o_custkey AS sid,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS dcents
      |      FROM orders),
      |g AS (SELECT sid, CAST(count(*) AS BIGINT) AS n_ds,
      |             CAST(sum(dcents) AS BIGINT) AS total,
      |             CAST(max(dcents) AS BIGINT) AS mx
      |      FROM d GROUP BY sid)
      |SELECT smp.sid, smp.cents, smp.grp, v.gname,
      |       COALESCE(g.n_ds, 0) AS n_ds, COALESCE(g.total, 0) AS total,
      |       COALESCE(g.mx, 0) AS mx
      |FROM smp LEFT JOIN v USING (grp) LEFT JOIN g USING (sid)
      |ORDER BY sid""".stripMargin

  // ------------------------------------------------------ Q-txn-mv3
  // N-ARY TXN VIEW (chained TxnViewDims, r16): the reference design
  // report's real THREE-LEVEL shape — sample → parent sample →
  // vocabulary (get-experimental-design-tsv/script.py:16-54) — as a
  // maintained txn-consistent view: dim 1 joins the samples' parent id
  // to the parent table and PRODUCES the parent's group code; dim 2
  // decodes that produced code against the vocabulary. Both dims
  // broadcast; the chain recomputes per touched group exactly like a
  // single decode. Same two crash injections as q_txn_mv2 (producer
  // dies after its commit point; consumer dies between a view commit
  // and its watermark). ORACLE: the committed transactions replayed as
  // one chained left-join rollup.
  private val TxnMv3Out = s"$FixtureRoot/txn_mv3_out"

  def txnMv3Q(s: SparkSession, dir: String): DataFrame = {
    val T = graft.operators.SnapshotTxn
    val MV = graft.operators.MaterializedView
    val (root, smpDir, dsDir, mvDir, ckp) =
      (s"$TxnMv3Out/root", s"$TxnMv3Out/s", s"$TxnMv3Out/d",
        s"$TxnMv3Out/mv", s"$TxnMv3Out/ckp")
    val parent = load(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("pid"),
      col("n_regionkey").cast("long").as("pgrp"))
    val vocab = load(s, dir, "region").select(
      col("r_regionkey").cast("long").as("pgrp"),
      col("r_name").as("pgname"))
    val spec = MV.TxnViewSpec("sid", Seq("cents", "pid"), "sid",
      Seq(MV.TxnViewAgg("n_ds", count(lit(1)), lit(0L)),
        MV.TxnViewAgg("total", sum(col("dcents").cast("long")), lit(0L))),
      Seq(MV.TxnViewDim(parent, "pid", Seq("pgrp")),
        MV.TxnViewDim(vocab, "pgrp", Seq("pgname"))))
    publishOnce(TxnMv3Out, dir) {
      wipeDir(TxnMv3Out)
      val cust = load(s, dir, "customer").select(
        col("c_custkey").cast("long").as("sid"),
        round(col("c_acctbal") * 100).cast("long").as("cents"),
        col("c_nationkey").cast("long").as("pid"))
      val ord = load(s, dir, "orders").select(
        col("o_orderkey").as("did"),
        col("o_custkey").cast("long").as("sid"),
        round(col("o_totalprice") * 100).cast("long").as("dcents"))
      def dslice(r: Int) = ord.filter(col("did") % 3 === r)
      val t1 = T.begin(s, root)
      t1.stagePublish(cust.repartitionByRange(4, col("sid")), smpDir,
        statsCol = Some("sid"))
      t1.stagePublish(dslice(0).repartitionByRange(4, col("sid")),
        dsDir, statsCol = Some("sid"))
      t1.commit()
      val t2 = T.begin(s, root)
      t2.stageMerge(cust.filter(col("sid") % 10 === 0)
        .select(col("sid"), (col("cents") + 1000).as("cents"), col("pid")),
        smpDir, "sid")
      t2.stageAppend(dslice(1), dsDir)
      t2.commit()
      val t3 = T.begin(s, root)
      t3.stageDelete(cust.filter(col("sid") % 7 === 0).select("sid"),
        smpDir, "sid")
      t3.stageAppend(dslice(2), dsDir)
      t3.commitNoFinalize() // producer dies after the commit point
      // consumer run 1: dies between window 2's view commit and its
      // watermark advance
      try {
        graft.operators.SnapshotTxnCdc.pump(s, root, ckp,
            maxTxnsPerBatch = 1) { d =>
          MV.applyTxnViewWindow(s, d, smpDir, dsDir, mvDir, spec)
          if (d.toTxn == 2)
            throw new RuntimeException("injected mid-pump crash")
        }
        ()
      } catch {
        case e: RuntimeException if e.getMessage.contains("injected") =>
      }
      // consumer run 2: window 2 replays (tag-skip), window 3 applies
      MV.refreshTxnView(s, root, smpDir, dsDir, mvDir, ckp, spec,
        maxTxnsPerBatch = 1)
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, mvDir,
      graft.operators.Snapshot.latestVersion(s, mvDir))
      .orderBy("sid")
  }

  private val txnMv3Sql =
    """WITH c AS (SELECT c_custkey AS sid,
      |                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
      |                  CAST(c_nationkey AS BIGINT) AS pid
      |           FROM customer),
      |smp AS (SELECT sid, CASE WHEN sid % 10 = 0 THEN cents + 1000
      |                         ELSE cents END AS cents, pid
      |        FROM c WHERE sid % 7 <> 0),
      |p AS (SELECT CAST(n_nationkey AS BIGINT) AS pid,
      |             CAST(n_regionkey AS BIGINT) AS pgrp FROM nation),
      |v AS (SELECT CAST(r_regionkey AS BIGINT) AS pgrp, r_name AS pgname
      |      FROM region),
      |d AS (SELECT o_custkey AS sid,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS dcents
      |      FROM orders),
      |g AS (SELECT sid, CAST(count(*) AS BIGINT) AS n_ds,
      |             CAST(sum(dcents) AS BIGINT) AS total
      |      FROM d GROUP BY sid)
      |SELECT smp.sid, smp.cents, smp.pid, p.pgrp, v.pgname,
      |       COALESCE(g.n_ds, 0) AS n_ds, COALESCE(g.total, 0) AS total
      |FROM smp LEFT JOIN p USING (pid) LEFT JOIN v USING (pgrp)
      |     LEFT JOIN g USING (sid)
      |ORDER BY sid""".stripMargin

  // ------------------------------------------------------ Q-txn-fold
  // STAGEABLE MAINTENANCE (SnapshotTxn.stageFold): the MoR log fold of
  // an enrolled table rides a multi-table TRANSACTION — the fold of
  // table A and a dependent append to table B become visible at ONE
  // commit point (previously maintenance had to commit between txns,
  // so nothing downstream could be atomic with it). The maintenance
  // txn is kill-injected at the worst point (committed, unfinalized);
  // recovery rolls fold + append forward together. A second stageFold
  // on the folded log stages nothing (idempotence), and a staged
  // small-file COMPACTION (stageCompact — row-neutral) packs B's
  // slices through the txn without moving the oracle. ORACLE: the DML
  // sequence replayed over the seed.
  private val TxnFoldOut = s"$FixtureRoot/txn_fold_out"

  def txnFoldQ(s: SparkSession, dir: String): DataFrame = {
    val T = graft.operators.SnapshotTxn
    val S = graft.operators.Snapshot
    val (root, aDir, bDir) =
      (s"$TxnFoldOut/root", s"$TxnFoldOut/a", s"$TxnFoldOut/b")
    publishOnce(TxnFoldOut, dir) {
      wipeDir(TxnFoldOut)
      val cust = load(s, dir, "customer").select(
        col("c_custkey").cast("long").as("sid"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val ord = load(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("did"),
        round(col("o_totalprice") * 100).cast("long").as("dcents"))
      def dslice(r: Int) = ord.filter(col("did") % 3 === r)
      val t1 = T.begin(s, root)
      t1.stagePublish(cust.repartitionByRange(4, col("sid")), aDir,
        statsCol = Some("sid"))
      t1.stagePublish(dslice(0), bDir)
      t1.commit()
      // three MoR generations accumulate on A through the log
      val t2 = T.begin(s, root)
      t2.stageMerge(cust.filter(col("sid") % 4 === 0)
        .select(col("sid"), (col("cents") + 7).as("cents")), aDir, "sid")
      t2.stageAppend(dslice(1), bDir)
      t2.commit()
      val t3 = T.begin(s, root)
      t3.stageDelete(cust.filter(col("sid") % 9 === 0).select("sid"),
        aDir, "sid")
      t3.commit()
      val t4 = T.begin(s, root)
      t4.stageMerge(cust.filter(col("sid") % 6 === 0)
        .select(col("sid"), (col("cents") * 2).as("cents")), aDir, "sid")
      t4.commit()
      // THE maintenance txn: fold A's log + append B's dependent slice,
      // atomically — and the committer dies before finalizing
      val tf = T.begin(s, root)
      require(tf.stageFold(aDir), "three generations must fold")
      tf.stageAppend(dslice(2), bDir)
      tf.commitNoFinalize()
      // crash state: txn committed, NEITHER table finalized
      require(S.latestVersion(s, aDir) == 4 && S.latestVersion(s, bDir) == 2,
        "the unfinalized maintenance txn must be invisible")
      T.recover(s, root) // roll fold + append forward together
      require(S.latestVersion(s, aDir) == 5 && S.latestVersion(s, bDir) == 3,
        "recovery must finalize fold and append together")
      // idempotence: the folded log has one generation — nothing stages
      val t5 = T.begin(s, root)
      require(!t5.stageFold(aDir), "a folded log must not re-fold")
      t5.abort()
      // STAGED COMPACTION (stageCompact — row-neutral by construction,
      // so the oracle is untouched): B's three appended slices pack
      // into one file INSIDE a transaction; only the layout moves
      val beforeLines = S.manifestLines(s, bDir, 3).length
      val tc = T.begin(s, root)
      require(tc.stageCompact(bDir, minRows = 1000000000L,
        targetRows = 1000000000L), "b's small files must pack")
      tc.commit()
      require(S.latestVersion(s, bDir) == 4,
        "the staged compaction must commit through the txn")
      val afterLines = S.manifestLines(s, bDir, 4).length
      require(afterLines < beforeLines,
        s"packing must shrink b's manifest ($beforeLines -> $afterLines)")
      ()
    }
    T.readLatest(s, root, aDir)
      .agg(lit("a").as("tbl"), count(lit(1)).as("n"),
        sum(col("cents")).as("c"), sum(col("sid")).as("k"))
      .unionByName(T.readLatest(s, root, bDir)
        .agg(lit("b").as("tbl"), count(lit(1)).as("n"),
          sum(col("dcents")).as("c"), sum(col("did")).as("k")))
      .orderBy("tbl")
  }

  private val txnFoldSql =
    """WITH c AS (SELECT c_custkey AS sid,
      |                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |           FROM customer),
      |a AS (SELECT sid, CASE WHEN sid % 6 = 0 THEN cents * 2
      |                       WHEN sid % 4 = 0 THEN cents + 7
      |                       ELSE cents END AS cents
      |      FROM c WHERE sid % 9 <> 0 OR sid % 6 = 0),
      |d AS (SELECT CAST(o_orderkey AS BIGINT) AS did,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS dcents
      |      FROM orders)
      |SELECT tbl, n, c, k FROM (
      |  SELECT 'a' AS tbl, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(cents) AS BIGINT) AS c,
      |         CAST(sum(sid) AS BIGINT) AS k FROM a
      |  UNION ALL
      |  SELECT 'b', CAST(count(*) AS BIGINT),
      |         CAST(sum(dcents) AS BIGINT),
      |         CAST(sum(did) AS BIGINT) FROM d
      |) ORDER BY tbl""".stripMargin

  // ------------------------------------------------------- Q-mor-fold
  // MoR LOG FOLD (compactSnapshotMoRLog): four accumulated
  // merge/delete generations collapse into ONE (winners + union
  // delete-set) without touching a base file, so the read-side resolve
  // broadcast is bounded by the LIVE update set instead of commit
  // count — the maintenance step for hot tables where a full
  // reconcile's base rewrite is too expensive. The gate folds, proves
  // the fold idempotent, and aggregates the RESOLVED state; the ORACLE
  // replays the DML sequence on the seed.
  private val MorFoldDir = s"$FixtureRoot/morfold"

  private def ensureMorFoldFixture(s: SparkSession, dir: String): Unit = {
    val S = graft.operators.Snapshot
    def cust = load(s, dir, "customer").select(
      col("c_custkey").cast("long").as("sid"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    publishOnce(MorFoldDir, dir) {
      wipeDir(MorFoldDir)
      S.publishSnapshot(cust.repartitionByRange(4, col("sid")),
        MorFoldDir, statsCol = Some("sid"))
      S.mergeSnapshotMoR(cust.filter(col("sid") % 4 === 0)
        .select(col("sid"), (col("cents") + 7).as("cents")),
        MorFoldDir, "sid")
      S.deleteSnapshotMoR(cust.filter(col("sid") % 9 === 0)
        .select("sid"), MorFoldDir, "sid")
      S.mergeSnapshotMoR(cust.filter(col("sid") % 6 === 0)
        .select(col("sid"), (col("cents") * 2).as("cents")),
        MorFoldDir, "sid")
      S.deleteSnapshotMoR(cust.filter(col("sid") % 11 === 0)
        .select("sid"), MorFoldDir, "sid")
      val v = S.compactSnapshotMoRLog(s, MorFoldDir)
      require(S.compactSnapshotMoRLog(s, MorFoldDir) == v,
        "fold of a folded log must be a no-op")
      ()
    }
  }

  def morFoldQ(s: SparkSession, dir: String): DataFrame = {
    val S = graft.operators.Snapshot
    ensureMorFoldFixture(s, dir)
    S.readSnapshot(s, MorFoldDir, S.latestVersion(s, MorFoldDir))
      .groupBy((col("sid") % 7).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"),
        sum(col("sid")).as("k"))
      .orderBy("g")
  }

  // ------------------------------------------------------ Q-snapwhere
  // MoR-TRANSPARENT PREDICATE READ (Snapshot.readSnapshotWhere): an
  // arbitrary predicate over the q_mor_fold table's FOLDED state —
  // live tombstones present, so readSnapshotRange refuses — opens only
  // files whose manifest stats could hold a match (the predicate-DML
  // bounds fold, null-sound), resolves the upsert log over that subset
  // and applies the predicate exactly. The range bounds derive from
  // the seed (max key), so the same query prunes at every scale.
  // ORACLE: the same DML replay filtered by the same predicate.
  def snapWhereQ(s: SparkSession, dir: String): DataFrame = {
    val S = graft.operators.Snapshot
    ensureMorFoldFixture(s, dir)
    val maxSid = load(s, dir, "customer")
      .agg(max(col("c_custkey").cast("long"))).head().getLong(0)
    val (lo, hi) = (maxSid / 4, maxSid / 2)
    S.readSnapshotWhere(s, MorFoldDir,
        S.latestVersion(s, MorFoldDir),
        col("sid") >= lo && col("sid") <= hi && col("cents") % 2 === 0)
      .orderBy("sid")
  }

  private val snapWhereSql =
    """WITH c AS (SELECT c_custkey AS sid,
      |                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |           FROM customer),
      |r AS (SELECT sid, CASE WHEN sid % 6 = 0 THEN cents * 2
      |                       WHEN sid % 4 = 0 THEN cents + 7
      |                       ELSE cents END AS cents
      |      FROM c
      |      WHERE sid % 11 <> 0
      |        AND NOT (sid % 9 = 0 AND sid % 6 <> 0)),
      |mm AS (SELECT max(sid) AS mx FROM c)
      |SELECT sid, cents FROM r, mm
      |WHERE sid >= mx // 4 AND sid <= mx // 2 AND cents % 2 = 0
      |ORDER BY sid""".stripMargin

  private val morFoldSql =
    """WITH c AS (SELECT c_custkey AS sid,
      |                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |           FROM customer),
      |r AS (SELECT sid, CASE WHEN sid % 6 = 0 THEN cents * 2
      |                       WHEN sid % 4 = 0 THEN cents + 7
      |                       ELSE cents END AS cents
      |      FROM c
      |      WHERE sid % 11 <> 0
      |        AND NOT (sid % 9 = 0 AND sid % 6 <> 0))
      |SELECT sid % 7 AS g, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(cents) AS BIGINT) AS c,
      |       CAST(sum(sid) AS BIGINT) AS k
      |FROM r GROUP BY 1 ORDER BY g""".stripMargin

  // ------------------------------------------------------ Q-snappoint-mor
  // MoR-AWARE POINT LOOKUPS (readSnapshotPoint over a live upsert log —
  // closes the bloom×MoR exclusivity): the table publishes indexed
  // (stats + bloom, both on the merge key), takes a keyed upsert (%11
  // cents+7) and a keyed delete (%13) WITHOUT reconciling, then four
  // point probes hit the four resolution classes — an updated key (the
  // upsert wins over its tombstoned base row), a deleted key (nothing —
  // a bloom-only read would resurrect the base row), an untouched key
  // (straight off its base file), and a missing key. Probe keys are
  // derived deterministically from the seed. ORACLE replays the DML and
  // left-joins the probes.
  private val SnapPointMorDir = s"$FixtureRoot/snappointmor"

  def snapPointMorQ(s: SparkSession, dir: String): DataFrame = {
    val S = graft.operators.Snapshot
    def base = load(s, dir, "customer").select(
      col("c_custkey").cast("long").as("sid"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    publishOnce(SnapPointMorDir, dir) {
      wipeDir(SnapPointMorDir)
      S.publishSnapshotIndexed(base.repartitionByRange(8, col("sid")),
        SnapPointMorDir, Seq("sid"), "sid")
      S.mergeSnapshotMoR(base.filter(col("sid") % 11 === 0)
        .select(col("sid"), (col("cents") + 7).as("cents")),
        SnapPointMorDir, "sid")
      S.deleteSnapshotMoR(base.filter(col("sid") % 13 === 0)
        .select("sid"), SnapPointMorDir, "sid")
      // v4: reconcile back to copy-on-write WITH the index intact —
      // probes must read identically before and after
      S.reconcileSnapshotMoR(s, SnapPointMorDir)
      ()
    }
    val probes = base.agg(
      min(when(col("sid") % 11 === 0 && col("sid") % 13 =!= 0,
        col("sid"))).as("upd"),
      min(when(col("sid") % 13 === 0, col("sid"))).as("del"),
      min(when(col("sid") % 11 =!= 0 && col("sid") % 13 =!= 0,
        col("sid"))).as("base"),
      (max(col("sid")) + 1).as("miss")).head()
    val reads = for {
      (src, v) <- Seq(("live", 3), ("rec", 4))
      p <- Seq("base", "del", "miss", "upd")
    } yield {
      val key = probes.getLong(probes.fieldIndex(p))
      S.readSnapshotPoint(s, SnapPointMorDir, v, key.toString)
        .agg(lit(p).as("probe"), lit(src).as("src"),
          count(lit(1)).as("n"),
          coalesce(sum(col("cents")), lit(0L)).as("s"))
    }
    reads.reduce(_.unionByName(_)).orderBy("probe", "src")
  }

  private val snapPointMorSql =
    """WITH c AS (SELECT c_custkey AS sid,
      |                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |           FROM customer),
      |cur AS (SELECT sid, CASE WHEN sid % 11 = 0 THEN cents + 7
      |                         ELSE cents END AS cents
      |        FROM c WHERE sid % 13 <> 0),
      |keys AS (
      |  SELECT 'upd' AS probe,
      |         (SELECT min(sid) FROM c WHERE sid % 11 = 0
      |            AND sid % 13 <> 0) AS k
      |  UNION ALL SELECT 'del', (SELECT min(sid) FROM c WHERE sid % 13 = 0)
      |  UNION ALL SELECT 'base', (SELECT min(sid) FROM c
      |            WHERE sid % 11 <> 0 AND sid % 13 <> 0)
      |  UNION ALL SELECT 'miss', (SELECT max(sid) + 1 FROM c)),
      |srcs AS (SELECT 'live' AS src UNION ALL SELECT 'rec')
      |SELECT k.probe, srcs.src, CAST(count(cur.sid) AS BIGINT) AS n,
      |       COALESCE(CAST(sum(cur.cents) AS BIGINT), 0) AS s
      |FROM keys k CROSS JOIN srcs LEFT JOIN cur ON cur.sid = k.k
      |GROUP BY k.probe, srcs.src ORDER BY probe, src""".stripMargin

  // -------------------------------------------------------------- Q-cdf
  // CHANGE DATA FEED over the merge-on-read log (Snapshot.changeFeed —
  // Delta CDF on the manifest layout): the q_snapmor-style chain
  // (publish → %7 upsert merge → predicate delete → %5 upsert merge)
  // read back as row-level events, each attributed to the version that
  // committed it — upsert postimages, pure delete keys (re-stated keys
  // excluded), O(changed files) read. ORACLE replays every branch from
  // the seed; the delete arm reproduces the CURRENT-state predicate
  // (post-%7 balances) the engine evaluated.
  private val SnapCdfDir = s"$FixtureRoot/snapcdf"

  def cdfQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapCdfDir, dir) {
      wipeDir(SnapCdfDir)
      val cust = load(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.operators.Snapshot.publishSnapshot(
        cust.repartitionByRange(8, col("c_custkey")), SnapCdfDir,
        statsCol = Some("c_custkey"))
      graft.operators.Snapshot.mergeSnapshotMoR(
        cust.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"),
            concat(col("c_name"), lit("_a")).as("c_name"),
            (col("bal_cents") + 100L).as("bal_cents")),
        SnapCdfDir, "c_custkey")
      graft.operators.Snapshot.deleteSnapshotMoRWhere(s, SnapCdfDir,
        "c_custkey",
        col("c_custkey") >= 40L && col("c_custkey") <= 120L &&
          col("bal_cents") % 3L === 0L)
      graft.operators.Snapshot.mergeSnapshotMoR(
        cust.filter(col("c_custkey") % 5 === 0)
          .select(col("c_custkey"),
            concat(col("c_name"), lit("_b")).as("c_name"),
            (col("bal_cents") + 200L).as("bal_cents")),
        SnapCdfDir, "c_custkey")
      ()
    }
    graft.operators.Snapshot.changeFeed(s, SnapCdfDir, 1,
      graft.operators.Snapshot.latestVersion(s, SnapCdfDir))
      .orderBy("_commit_version", "c_custkey")
  }

  private val cdfSql =
    """WITH cust AS (
      |  SELECT c_custkey AS k, c_name AS n,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS b
      |  FROM customer)
      |SELECT k AS c_custkey, c_name, bal_cents,
      |       _change_type, _commit_version
      |FROM (
      |  SELECT k, n || '_a' AS c_name, b + 100 AS bal_cents,
      |         'upsert' AS _change_type, 2 AS _commit_version
      |  FROM cust WHERE k % 7 = 0
      |  UNION ALL
      |  SELECT k, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
      |         'delete', 3
      |  FROM (SELECT k,
      |               CASE WHEN k % 7 = 0 THEN b + 100 ELSE b END AS bb
      |        FROM cust)
      |  WHERE k BETWEEN 40 AND 120 AND bb % 3 = 0
      |  UNION ALL
      |  SELECT k, n || '_b', b + 200, 'upsert', 4
      |  FROM cust WHERE k % 5 = 0
      |) ORDER BY _commit_version, c_custkey""".stripMargin

  // -------------------------------------------------------------- Q-wap
  // WRITE-AUDIT-PUBLISH over branch refs (Snapshot.createBranch /
  // advanceBranch / readSnapshotBranch — Iceberg's WAP story on the
  // manifest layout): consumers read through the 'main' branch pin
  // while producers commit freely. Slice 0 publishes and mints the
  // branch; slice 1 commits, audits green, and is PUBLISHED by one
  // atomic ref flip; slice 2 commits but its audit "fails" — the flip
  // never happens, so branch readers must see slices 0+1 and never any
  // part of slice 2, even though v3 is fully committed underneath.
  // ORACLE replays the published-only outcome.
  private val WapDir = s"$FixtureRoot/wap"

  def wapQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(WapDir, dir) {
      wipeDir(WapDir)
      val ord = load(s, dir, "orders").select(
        col("o_orderkey").as("okey"), col("o_custkey").as("ckey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def slice(r: Int) = ord.filter(col("okey") % 3 === r)
      graft.operators.Snapshot.publishSnapshot(slice(0), WapDir)
      graft.operators.Snapshot.createBranch(s, WapDir, "main", 1)
      val v2 = graft.operators.Snapshot.appendSnapshot(slice(1), WapDir)
      // audit the candidate version directly; green → publish the flip
      require(graft.operators.Snapshot
        .readSnapshot(s, WapDir, v2).filter(col("cents").isNull)
        .limit(1).count() == 0)
      graft.operators.Snapshot.advanceBranch(s, WapDir, "main", v2,
        expectedFrom = Some(1))
      // slice 2 commits but its audit fails: no flip, stays unpublished
      graft.operators.Snapshot.appendSnapshot(slice(2), WapDir)
      ()
    }
    graft.operators.Snapshot.readSnapshotBranch(s, WapDir, "main")
      .groupBy((col("okey") % 3).as("slice"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .orderBy("slice")
  }

  private val wapSql =
    """SELECT CAST(o_orderkey % 3 AS BIGINT) AS slice,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |GROUP BY 1 ORDER BY slice""".stripMargin

  // ------------------------------------------------------ Q-stream-cdc
  // STREAMING CDC over a snapshot table (SnapshotCdc.pump — the shared
  // resumable incremental reader MaterializedView and the index
  // refresher are re-expressed on): three order slices commit as three
  // source versions; the consumer pumps ONE-VERSION windows with its
  // applied-version watermark in a checkpoint dir, recording each
  // window's aggregate keyed by end version (replay-idempotent by
  // construction). The watermark is then REWOUND to 1 — a crash right
  // after window 1's advance — and the pump re-runs: windows 2 and 3
  // REPLAY verbatim and must overwrite to the same values. ORACLE: the
  // per-slice aggregates from the seed — streamed consumption must be
  // indistinguishable from batch changedBetween per version.
  private val CdcSrcDir = s"$FixtureRoot/cdcsrc"

  def streamCdcQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fixed scratch wiped on entry (re-runnable, litter-free — a UUID
    // name per invocation leaked a dir into FixtureRoot per sweep)
    val ckp = s"$FixtureRoot/cdcckp"
    wipeDir(ckp)
    publishOnce(CdcSrcDir, dir) {
      wipeDir(CdcSrcDir)
      val ord = load(s, dir, "orders").select(
        col("o_orderkey").as("okey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def slice(r: Int) = ord.filter(col("okey") % 3 === r)
      graft.operators.Snapshot.publishSnapshot(slice(0), CdcSrcDir)
      graft.operators.Snapshot.appendSnapshot(slice(1), CdcSrcDir)
      graft.operators.Snapshot.appendSnapshot(slice(2), CdcSrcDir)
      ()
    }
    val seen = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    def consume(): Unit = {
      graft.operators.SnapshotCdc.pump(s, CdcSrcDir, ckp,
          maxVersionsPerBatch = 1) { d =>
        val r = d.rows.agg(count(lit(1)), sum(col("cents"))).head()
        seen(d.toVersion) = (r.getLong(0), r.getLong(1))
      }
      ()
    }
    consume()
    // rewind the watermark to 1: a consumer that crashed after window 1
    // replays windows 2 and 3 — same ranges, same values, no drift
    val fs = new org.apache.hadoop.fs.Path(ckp).getFileSystem(
      s.sessionState.newHadoopConf())
    val wm = new org.apache.hadoop.fs.Path(s"$ckp/applied-version")
    fs.delete(wm, false)
    val out = fs.create(wm, true); out.write("1".getBytes); out.close()
    consume()
    seen.toSeq.sortBy(_._1)
      .map { case (v, (n, t)) => (v, n, t) }
      .toDF("v", "n", "s")
  }

  private val streamCdcSql =
    """SELECT CAST(o_orderkey % 3 + 1 AS INTEGER) AS v,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
      |FROM orders GROUP BY 1 ORDER BY v""".stripMargin

  // --------------------------------------------------------- Q-snapmv
  // Incremental materialized-view maintenance
  // (MaterializedView.refreshSumView — the DLT/Materialize story on
  // the manifest layout): a per-customer count+sum view of an
  // append-only orders table, bootstrapped on the first third and
  // folded forward by TWO O(delta) refreshes as the other thirds
  // append — each refresh reads only the manifest-CDC delta files and
  // merges only touched view files; the applied source version rides
  // the SAME commit as a tag (exactly-once, replay-safe). The gate
  // reads the final view; the ORACLE recomputes the aggregate over the
  // WHOLE source — incremental maintenance must be indistinguishable
  // from the full recompute.
  private val SnapMvSrcDir = s"$FixtureRoot/snapmvsrc"
  private val SnapMvDir = s"$FixtureRoot/snapmv"

  def snapMvQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapMvDir, dir) {
      wipeDir(SnapMvSrcDir); wipeDir(SnapMvDir)
      val ord = load(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      def slice(r: Int) = ord.filter(col("o_orderkey") % 3 === r)
        .select("o_custkey", "cents")
      graft.operators.Snapshot.publishSnapshot(slice(0), SnapMvSrcDir)
      graft.operators.MaterializedView.refreshSumView(
        s, SnapMvSrcDir, SnapMvDir, "o_custkey", "cents", viewFiles = 8)
      graft.operators.Snapshot.appendSnapshot(slice(1), SnapMvSrcDir)
      graft.operators.MaterializedView.refreshSumView(
        s, SnapMvSrcDir, SnapMvDir, "o_custkey", "cents")
      graft.operators.Snapshot.appendSnapshot(slice(2), SnapMvSrcDir)
      graft.operators.MaterializedView.refreshSumView(
        s, SnapMvSrcDir, SnapMvDir, "o_custkey", "cents")
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, SnapMvDir, 3)
      .orderBy("o_custkey")
  }

  private val snapMvSql =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ----------------------------------------------------- Q-snapdropcol
  // DROP COLUMN evolution (Snapshot.dropSnapshotColumn): a metadata-
  // only commit removes c_name from the customer snapshot — zero data
  // rewritten, every base file carried verbatim, readers project the
  // column away — then an append lands under the REDUCED schema and a
  // merge updates through it. The dropped name is fenced against
  // re-adding (resurrection hazard of name-based layouts; spec-pinned
  // in SnapshotDropColSpec). ORACLE restates the surviving columns'
  // final state from the seed.
  private val SnapDropDir = s"$FixtureRoot/snapdropcol"

  private def ensureSnapDropFixture(s: SparkSession, dir: String): Unit =
    publishOnce(SnapDropDir, dir) {
      wipeDir(SnapDropDir)
      val cust = load(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.operators.Snapshot.publishSnapshot(
        cust.repartitionByRange(4, col("c_custkey")), SnapDropDir,
        statsCol = Some("c_custkey"))
      graft.operators.Snapshot.dropSnapshotColumn(s, SnapDropDir, "c_name")
      graft.operators.Snapshot.appendSnapshot(
        cust.filter(col("c_custkey") % 10 === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            (col("bal_cents") + 1L).as("bal_cents")),
        SnapDropDir)
      graft.operators.Snapshot.mergeSnapshot(
        cust.filter(col("c_custkey") % 13 === 0)
          .select(col("c_custkey"),
            (col("bal_cents") * 2L).as("bal_cents")),
        SnapDropDir, "c_custkey")
      ()
    }

  def snapDropColQ(s: SparkSession, dir: String): DataFrame = {
    ensureSnapDropFixture(s, dir)
    graft.operators.Snapshot.readSnapshot(s, SnapDropDir, 4)
      .orderBy("c_custkey")
  }

  // ----------------------------------------------------- Q-snaphistory
  // Table-history introspection (Snapshot.snapshotHistory — Iceberg's
  // table$history): one row per retained version with column count,
  // tombstone state, the dropped-name fence, and the version's EXACT
  // row count summed from manifest stats text — zero data files
  // opened. Over the snapdropcol fixture (publish → metadata-only drop
  // → append → merge) the whole protocol is visible: v2 keeps v1's row
  // count (no data written), the drop narrows n_cols 3 → 2 and raises
  // the fence, the merge leaves the count unchanged (whole-row
  // replace). ORACLE derives the counts from the seed table.
  def snapHistoryQ(s: SparkSession, dir: String): DataFrame = {
    ensureSnapDropFixture(s, dir)
    graft.operators.Snapshot.snapshotHistory(s, SnapDropDir)
      .select("version", "n_cols", "n_rows", "tombstoned", "dropped")
      .orderBy("version")
  }

  private val snapHistorySql =
    """WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer
      |      WHERE c_custkey % 10 = 0)
      |SELECT CAST(version AS INTEGER) AS version,
      |       CAST(n_cols AS INTEGER) AS n_cols,
      |       CAST(n_rows AS BIGINT) AS n_rows, tombstoned, dropped
      |FROM (
      |  SELECT 1 AS version, 3 AS n_cols, (SELECT n FROM c) AS n_rows,
      |         false AS tombstoned, '' AS dropped
      |  UNION ALL SELECT 2, 2, (SELECT n FROM c), false, 'c_name'
      |  UNION ALL SELECT 3, 2,
      |    (SELECT n FROM c) + (SELECT n FROM a), false, 'c_name'
      |  UNION ALL SELECT 4, 2,
      |    (SELECT n FROM c) + (SELECT n FROM a), false, 'c_name'
      |) ORDER BY version""".stripMargin

  private val snapDropColSql =
    """SELECT c_custkey,
      |       CASE WHEN c_custkey % 13 = 0
      |            THEN CAST(round(c_acctbal * 100) AS BIGINT) * 2
      |            ELSE CAST(round(c_acctbal * 100) AS BIGINT) END AS bal_cents
      |FROM customer
      |UNION ALL
      |SELECT c_custkey + 10000000,
      |       CAST(round(c_acctbal * 100) AS BIGINT) + 1
      |FROM customer WHERE c_custkey % 10 = 0
      |ORDER BY c_custkey""".stripMargin

  private val SnapMergeDir = s"$FixtureRoot/snapmerge"

  def snapMergeQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapMergeDir, dir) {
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(SnapMergeDir)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
      val cust = load(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.operators.Snapshot.publishSnapshot(
        cust.repartitionByRange(8, col("c_custkey")), SnapMergeDir,
        statsCol = Some("c_custkey"))
      import s.implicits._
      val updates = cust.filter(col("c_custkey") % 37 === 0)
        .select(col("c_custkey"),
          concat(col("c_name"), lit("_u")).as("c_name"),
          (col("bal_cents") + 1000L).as("bal_cents"))
        .unionByName(Seq(
          (9000001L, "NEW_1", 111L), (9000002L, "NEW_2", 222L),
          (9000003L, "NEW_3", 333L)).toDF("c_custkey", "c_name", "bal_cents"))
      graft.operators.Snapshot.mergeSnapshot(
        updates, SnapMergeDir, "c_custkey")
      ()
    }
    graft.operators.Snapshot.readSnapshot(s, SnapMergeDir, 2)
      .orderBy("c_custkey")
  }

  private val snapMergeSql =
    """SELECT c_custkey, c_name, bal_cents FROM (
      |  SELECT c_custkey, c_name,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |  FROM customer WHERE c_custkey % 37 <> 0
      |  UNION ALL
      |  SELECT c_custkey, c_name || '_u',
      |         CAST(round(c_acctbal * 100) AS BIGINT) + 1000
      |  FROM customer WHERE c_custkey % 37 = 0
      |  UNION ALL
      |  SELECT * FROM (VALUES (CAST(9000001 AS BIGINT), 'NEW_1',
      |                         CAST(111 AS BIGINT)),
      |                        (9000002, 'NEW_2', 222),
      |                        (9000003, 'NEW_3', 333))
      |) ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------- Q-snapskip
  // Manifest-stats file skipping (Snapshot.readSnapshotRange): the
  // publish records per-file (rows, min, max) of c_custkey from the
  // PARQUET FOOTERS (a metadata read — the writer already computed
  // row-group stats), the range read prunes to overlapping files
  // driver-side, and a residual filter makes the cut exact. With the
  // publish range-partitioned 8 ways, a 200-key probe opens ~1-2 of 8
  // files (SnapshotTravelSpec pins the pruning); the ORACLE replays
  // the predicate over the seed table, so a lost or duplicated row at
  // any pruning boundary diverges the hash.
  private val SnapSkipDir = s"$FixtureRoot/snapskip"

  def snapSkipQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapSkipDir, dir) {
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(SnapSkipDir)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
      graft.operators.Snapshot.publishSnapshot(
        load(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
          .repartitionByRange(8, col("c_custkey")),
        SnapSkipDir, statsCol = Some("c_custkey"))
      ()
    }
    graft.operators.Snapshot.readSnapshotRange(s, SnapSkipDir, 1, 100, 299)
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      .orderBy("c_custkey")
  }

  private val snapSkipSql =
    """SELECT c_custkey, c_name,
      |       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |FROM customer WHERE c_custkey BETWEEN 100 AND 299
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------- Q-snapzorder
  // Z-ordered snapshot publish (Snapshot.publishSnapshotZOrdered — the
  // Delta OPTIMIZE ZORDER BY story on the manifest layout): orders
  // range-partitioned on the Morton code of (custkey, order day) into
  // 16 contiguous curve segments, BOTH columns' per-file (min, max) in
  // the manifest, and the 2-D box read opens only files whose bounding
  // box overlaps (SnapshotTravelSpec pins the pruning + merge
  // inheritance; q_zorder gates the directory-partitioned twin). The
  // residual filter makes the cut exact, so the ORACLE is the plain
  // box predicate over the seed table — any row a curve segment
  // boundary lost or duplicated diverges the hash.
  private val SnapZDir = s"$FixtureRoot/snapzorder"

  def snapZorderQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapZDir, dir) {
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(SnapZDir)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
      val orders = load(s, dir, "orders").select(
        col("o_custkey").cast("long").as("ck"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.operators.Snapshot.publishSnapshotZOrdered(
        orders, SnapZDir, "ck", "d", bits = 18, nFiles = 16)
      ()
    }
    graft.operators.Snapshot.readSnapshotBox(s, SnapZDir, 1,
      10L, 40L, 1000L, 3000L)
      .orderBy("ck", "d", "cents")
  }

  private val snapZorderSql =
    """SELECT CAST(o_custkey AS BIGINT) AS ck,
      |       CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
      |            AS BIGINT) AS d,
      |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |FROM orders
      |WHERE o_custkey BETWEEN 10 AND 40
      |  AND date_diff('day', DATE '1992-01-01', o_orderdate)
      |      BETWEEN 1000 AND 3000
      |ORDER BY ck, d, cents""".stripMargin

  // ------------------------------------------------------ Q-snapcompact
  // Small-file maintenance (Snapshot.compactSnapshot — the Iceberg
  // rewrite_data_files story): a snapshotStream-shaped history (one big
  // base publish + three tiny per-batch appends) is bin-packed into a
  // new version that rewrites ONLY the small files and carries the big
  // base files by reference (SnapshotTravelSpec pins the file
  // accounting: base lines unchanged, small lines replaced by one).
  // The gate reads the compacted version in full — a row lost or
  // duplicated in the rewrite diverges the hash — and the ORACLE
  // rebuilds the logical table (seed ∪ the three appended batches),
  // which compaction must leave untouched by definition.
  private val SnapCompactDir = s"$FixtureRoot/snapcompact"

  def snapCompactQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(SnapCompactDir, dir) {
      import java.nio.file.{Files => JF, Paths}
      val base = Paths.get(SnapCompactDir)
      if (JF.exists(base)) {
        val it = JF.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JF.delete(p))
      }
      val cust = load(s, dir, "customer").select(
        col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      graft.operators.Snapshot.publishSnapshot(
        cust.repartitionByRange(2, col("c_custkey")), SnapCompactDir,
        statsCol = Some("c_custkey"))
      import s.implicits._
      Seq(
        Seq((9000001L, "NEW_1", 1L), (9000002L, "NEW_2", 2L),
          (9000003L, "NEW_3", 3L)),
        Seq((9000004L, "NEW_4", 4L), (9000005L, "NEW_5", 5L)),
        Seq((9000006L, "NEW_6", 6L), (9000007L, "NEW_7", 7L),
          (9000008L, "NEW_8", 8L), (9000009L, "NEW_9", 9L)))
        .foreach(b => graft.operators.Snapshot.appendSnapshot(
          b.toDF("c_custkey", "c_name", "bal_cents").coalesce(1),
          SnapCompactDir, statsCol = Some("c_custkey")))
      // minRows=50: the 2 base range files hold >=75 rows at every gate
      // scale (sf0.001 customer = 150) and carry; the 3 appended files
      // (3/2/4 rows) rewrite into one
      graft.operators.Snapshot.compactSnapshot(s, SnapCompactDir,
        minRows = 50L, targetRows = 1000000L)
      ()
    }
    val latest = graft.operators.Snapshot.latestVersion(s, SnapCompactDir)
    graft.operators.Snapshot.readSnapshot(s, SnapCompactDir, latest)
      .orderBy("c_custkey")
  }

  private val snapCompactSql =
    """SELECT c_custkey, c_name, bal_cents FROM (
      |  SELECT c_custkey, c_name,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      |  FROM customer
      |  UNION ALL
      |  SELECT * FROM (VALUES (CAST(9000001 AS BIGINT), 'NEW_1',
      |                         CAST(1 AS BIGINT)),
      |                        (9000002, 'NEW_2', 2), (9000003, 'NEW_3', 3),
      |                        (9000004, 'NEW_4', 4), (9000005, 'NEW_5', 5),
      |                        (9000006, 'NEW_6', 6), (9000007, 'NEW_7', 7),
      |                        (9000008, 'NEW_8', 8), (9000009, 'NEW_9', 9))
      |) ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------------- Q-jlknn
  // The JL projection's END-TO-END use: candidate generation in cheap
  // projected space (integer L2 over 32 dims) + exact cosine re-rank
  // of the top-100 candidates — the two-stage retrieval every reduced-
  // dimension ANN deployment runs. At scale the projected candidate
  // pass moves 32 longs/row instead of 64 floats and the exact pass
  // touches only k' = 100 rows; the oracle replays BOTH stages (the
  // projection CTE from q_jl, integer candidate distances, the exact
  // re-rank from q_knn's dot) — so the gate pins the exact candidate
  // SET, not just the survivors. Candidate order (pd, vec_id) and
  // re-rank order (sim DESC, vec_id) are total.
  private val JlKnnCands = 100
  private val JlKnnK = 10

  def jlKnnQ(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    val emb = load(s, dir, "embeddings")
    val proj = Similarity.projectSigned(emb, "embedding",
      dIn = 64, dOut = JlDimOut, seed = JlSeed)
    val q = proj.filter(col("vec_id") === 0)
      .select(col("proj").as("qp"), col("embedding").as("qv"))
    val cands = proj.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .withColumn("pd", Similarity.projL2Sq(col("proj"), col("qp")))
      .orderBy(col("pd"), col("vec_id"))
      .limit(JlKnnCands)
    cands
      .withColumn("sim",
        round(Similarity.cosine(col("embedding"), col("qv")), 4))
      .select(col("vec_id"), col("label"), col("pd"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(JlKnnK)
  }

  private val jlKnnSql = {
    val sign = "CASE WHEN CAST(concat('0x', substr(sha256(" +
      s"'$JlSeed#' || CAST(j AS VARCHAR) || '#' || CAST(i AS VARCHAR)" +
      "), 1, 8)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
    def dot(x: String, y: String) =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |  list_transform(generate_series(1, 64),
         |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""WITH e AS (SELECT vec_id, label, embedding,
       |             list_transform(embedding, v ->
       |               CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT))
       |               AS ef
       |           FROM embeddings),
       |js AS (SELECT j, list_transform(generate_series(0, 63), i ->
       |                  $sign) AS srow
       |       FROM generate_series(0, ${JlDimOut - 1}) t(j)),
       |p AS (SELECT vec_id, label, embedding,
       |             list(CAST(list_sum(list_transform(
       |               generate_series(1, 64), i -> ef[i] * srow[i]))
       |               AS BIGINT) ORDER BY j) AS proj
       |      FROM e CROSS JOIN js
       |      GROUP BY vec_id, label, embedding),
       |q AS (SELECT proj AS qp, embedding AS qv FROM p WHERE vec_id = 0),
       |c AS (SELECT vec_id, label, embedding, qv,
       |             CAST(list_sum(list_transform(
       |               generate_series(1, ${JlDimOut}),
       |               i -> (proj[i] - qp[i]) * (proj[i] - qp[i])))
       |               AS BIGINT) AS pd
       |      FROM p CROSS JOIN q
       |      WHERE vec_id <> 0
       |      ORDER BY pd, vec_id LIMIT $JlKnnCands)
       |SELECT vec_id, label, pd,
       |       round(${dot("embedding", "qv")} /
       |             (sqrt(${dot("embedding", "embedding")}) *
       |              sqrt(${dot("qv", "qv")})), 4) AS sim
       |FROM c
       |ORDER BY sim DESC, vec_id LIMIT $JlKnnK""".stripMargin
  }

  // ------------------------------------------------------------ Q-swindow
  // Spark's BUILT-IN session_window batch aggregation — a different
  // execution path from everything the surface already gates: the
  // gaps-and-islands queries (q_sessions, q_tws_sessions) sessionize
  // with window functions or typed state, while session_window plans a
  // MergingSessionsExec-family aggregate that merges per-key dynamic
  // windows inside the agg operator itself. Per-session rows (start,
  // end = last event + gap, count) rather than q_sessions' per-user
  // summary. ORACLE = independent gaps-and-islands construction; the
  // break condition is diff > gap because session_window merges an
  // event landing EXACTLY on last+gap (SessionWindowSpec pins the
  // closed edge against tiny literal frames — the first draft assumed
  // an open [start, last+gap) edge and the spec caught it; the gate
  // data never ties at µs granularity, so only a unit test can hold
  // this boundary). One shuffle by user_id; state is per-key
  // in-flight sessions, never the event set.
  private val SwGapUs = 30L * 60 * 1000000
  def sessionWindowQ(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(col("user_id"), col("ts").cast("timestamp").as("t"))
      .groupBy(col("user_id"), session_window(col("t"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start"),
        unix_micros(col("session_window.end")).as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  private val sessionWindowSql =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
       |d AS (SELECT user_id, t,
       |             CASE WHEN lag(t) OVER w IS NULL
       |                    OR t - lag(t) OVER w > $SwGapUs
       |                  THEN 1 ELSE 0 END AS brk
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
       |g AS (SELECT user_id, t,
       |             sum(brk) OVER (PARTITION BY user_id ORDER BY t
       |                            ROWS UNBOUNDED PRECEDING) AS sid
       |      FROM d)
       |SELECT user_id, min(t) AS session_start,
       |       max(t) + $SwGapUs AS session_end,
       |       CAST(count(*) AS BIGINT) AS n_events
       |FROM g GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  // ----------------------------------------------------------------- Q-pdf
  // S10 + X4 fully IN-ENGINE: per-nation lab-report PDFs are rendered
  // (Pdf.render — valid PDF 1.4, Flate-compressed content stream,
  // correct xref), read back as binary files, text-extracted by the
  // pure-JVM byte walk (Pdf.pdfText: stream location by /Length,
  // Inflater, text-op interpreter — the pdftotext seam the sandbox
  // could never run, now the Dicom posture: no vendor binary for the
  // standard case), and the extracted lines feed the UNCHANGED
  // CelPipeline RIN state machine (register-cel-dropbox.py:48-79).
  // The oracle derives (id, barcode, rin) straight from the seed table
  // — so compress → write → scan → inflate → operator walk → line
  // scan all cross the hash. Two samples per report plus marker/noise
  // lines exercise the carried-state pairing.
  private val PdfFixtureDir = s"$FixtureRoot/pdfreports"

  def pdfQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(PdfFixtureDir, dir) {
      import java.nio.file.{Files => JFiles, Paths}
      val base = Paths.get(PdfFixtureDir)
      if (JFiles.exists(base)) {
        val it = JFiles.walk(base).sorted(java.util.Comparator.reverseOrder())
        it.forEach(p => JFiles.delete(p))
      }
      JFiles.createDirectories(base)
      val seed = load(s, dir, "nation").select("n_nationkey")
        .collect() // 25 rows, fixture rendering only
      seed.foreach { r =>
        val k = r.getInt(0)
        val code1 = f"QABCD${(k * 2) % 1000}%03dA0"
        val code2 = f"QABCD${(k * 2 + 1) % 1000}%03dB1"
        val bytes = graft.sources.Pdf.render(Seq(
          "Auftragsnummer",
          f"I$k%02dR${k * 7 % 1000}%03da${k % 100}%02d",
          "Montag, 1. Januar 2024",
          "RIN Nummer",
          code1, s"${k % 10},${k % 7}",
          code2, s"${(k + 3) % 10},${(k + 2) % 7}"))
        JFiles.write(base.resolve(f"report$k%02d.pdf"), bytes)
        ()
      }
    }
    val txt = s.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
      .load(PdfFixtureDir)
      .select(regexp_extract(col("path"), "report(\\d+)\\.pdf", 1)
        .cast("bigint").as("pid"),
        graft.sources.Pdf.pdfText(col("content")).as("txt"))
    graft.pipelines.CelPipeline.rinAssociations(txt, "pid", "txt")
      .orderBy("id", "barcode")
  }

  private val pdfSql =
    """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
      |r AS (
      |  SELECT k AS id,
      |         'QABCD' || lpad(CAST((k * 2) % 1000 AS VARCHAR), 3, '0')
      |           || 'A0' AS barcode,
      |         CAST(CAST(k % 10 AS VARCHAR) || '.'
      |           || CAST(k % 7 AS VARCHAR) AS DOUBLE) AS rin
      |  FROM n
      |  UNION ALL
      |  SELECT k,
      |         'QABCD' || lpad(CAST((k * 2 + 1) % 1000 AS VARCHAR), 3, '0')
      |           || 'B1',
      |         CAST(CAST((k + 3) % 10 AS VARCHAR) || '.'
      |           || CAST((k + 2) % 7 AS VARCHAR) AS DOUBLE)
      |  FROM n)
      |SELECT id, barcode, rin FROM r ORDER BY id, barcode""".stripMargin

  // ------------------------------------------------------------ Q-registry
  // The GENERIC prefix-registry shape (PrefixRegistryPipeline.run)
  // through the gate, two family configs in one row: qPCR (plain
  // PCR+parentCode samples, first-free gap-filling experiment
  // suffixes — register-qpcr-dropbox.py:88-95) and FASTA (numbered
  // FASTA<n>+parentCode prefix counting per parent —
  // register-fasta-dropbox.py:121-130). Experiment seeds carry gaps
  // (projects A {1,4}, B {2,5}, C {3}), so the oracle must reproduce
  // j-th-smallest-free-suffix assignment, not max+1 — the rule that
  // distinguishes this family from W2. q_nmr gates the divergent NMR
  // instance; together they close SURVEY §1.2's prefix table.
  def registryQ(s: SparkSession, dir: String): DataFrame = {
    // j = k/20 is dense; (j%3, j/3+1) is INJECTIVE across parents up to
    // 3*999 of them — k-modular numbering collided at sf0.1 (two parents
    // sharing one barcode double-counted through the catalog lookup)
    val p = load(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
      .filter(pmod(col("k"), lit(20)) === 0)
      .withColumn("j", floor(col("k") / 20))
    val proj = concat(lit("QPTR"), char(pmod(col("j"), lit(3)) + 65))
    val parent = graft.functions.Barcode.make(proj,
      floor(col("j") / 3) + 1, lit("E"))
    val samples = p.select(parent.as("code"), lit("Q_TEST_SAMPLE").as("sampleType"))
    val qpcrIn = p.select(concat(lit("/in/"), parent, lit("_qpcr.xlsx")).as("path"))
    val fastaIn = p.filter(pmod(col("k"), lit(40)) === 0)
      .select(explode(array(
        concat(lit("/in/"), parent, lit("_a.fasta")),
        concat(lit("/in/"), parent, lit("_b.fasta")))).as("path"))
    val reg = load(s, dir, "region").select(col("r_regionkey").cast("long").as("r"))
    val experiments = reg.select(
      concat(lit("QPTR"), char(pmod(col("r"), lit(3)) + 65)).as("project"),
      (col("r") + 1).as("num"), lit("X").as("expType"))
    val noDs = p.select(lit("").as("code"), lit("").as("dsType"),
      lit("").as("sample"), lit("").as("path")).filter(lit(false))
    val fam = graft.pipelines.PrefixRegistryPipeline.Families
    val qp = graft.pipelines.PrefixRegistryPipeline.run(
      fam("qpcr"), qpcrIn, samples, experiments, noDs)
    val fa = graft.pipelines.PrefixRegistryPipeline.run(
      fam("fasta"), fastaIn, samples, experiments, noDs)
    qp.samples.select(lit("qpcr").as("family"), col("code"),
        col("parent"), col("exp_num"))
      .unionByName(fa.samples.select(lit("fasta").as("family"), col("code"),
        col("parent"), col("exp_num")))
      .orderBy("family", "code")
  }

  private val registrySql = {
    val ck = (p9: String) => {
      val s = s"CAST(list_aggregate(list_transform(generate_series(1, 9), " +
        s"i -> ord(substr($p9, i, 1)) * i), 'sum') % 34 + 48 AS INTEGER)"
      s"(CASE WHEN $s > 57 THEN chr($s + 7) ELSE chr($s) END)"
    }
    s"""WITH par AS (
       |  SELECT CAST(p_partkey AS BIGINT) AS k,
       |         'QPTR' || chr(CAST((p_partkey // 20) % 3 AS INTEGER) + 65) AS proj,
       |         'QPTR' || chr(CAST((p_partkey // 20) % 3 AS INTEGER) + 65)
       |           || lpad(CAST((p_partkey // 20) // 3 + 1 AS VARCHAR), 3, '0')
       |           || 'E' AS p9
       |  FROM part WHERE p_partkey % 20 = 0),
       |par2 AS (SELECT k, proj, p9 || ${ck("p9")} AS code FROM par),
       |exps AS (
       |  SELECT 'QPTR' || chr(CAST(r_regionkey % 3 AS INTEGER) + 65) AS project,
       |         CAST(r_regionkey AS BIGINT) + 1 AS num
       |  FROM region),
       |maxn AS (SELECT project, max(num) AS mn FROM exps GROUP BY 1),
       |qrows AS (
       |  SELECT k, proj, code, '/in/' || code || '_qpcr.xlsx' AS path,
       |         row_number() OVER (PARTITION BY proj
       |                            ORDER BY '/in/' || code || '_qpcr.xlsx') AS rk
       |  FROM par2),
       |qcnt AS (SELECT proj, count(*) AS bc FROM qrows GROUP BY 1),
       |qfree AS (
       |  SELECT proj, num,
       |         row_number() OVER (PARTITION BY proj ORDER BY num) AS frank
       |  FROM (SELECT c.proj,
       |               unnest(generate_series(1, coalesce(m.mn, 0) + c.bc)) AS num
       |        FROM qcnt c LEFT JOIN maxn m ON m.project = c.proj) a
       |  WHERE NOT EXISTS (SELECT 1 FROM exps e
       |                    WHERE e.project = a.proj AND e.num = a.num)),
       |qout AS (
       |  SELECT 'qpcr' AS family, 'PCR' || q.code AS code, q.code AS parent,
       |         f.num AS exp_num
       |  FROM qrows q JOIN qfree f ON f.proj = q.proj AND f.frank = q.rk),
       |frows AS (
       |  SELECT k, proj, code, path,
       |         row_number() OVER (PARTITION BY proj ORDER BY path) AS rk,
       |         row_number() OVER (PARTITION BY code ORDER BY path) AS pn
       |  FROM (SELECT k, proj, code,
       |          unnest(['/in/' || code || '_a.fasta',
       |                  '/in/' || code || '_b.fasta']) AS path
       |        FROM par2 WHERE k % 40 = 0)),
       |fcnt AS (SELECT proj, count(*) AS bc FROM frows GROUP BY 1),
       |ffree AS (
       |  SELECT proj, num,
       |         row_number() OVER (PARTITION BY proj ORDER BY num) AS frank
       |  FROM (SELECT c.proj,
       |               unnest(generate_series(1, coalesce(m.mn, 0) + c.bc)) AS num
       |        FROM fcnt c LEFT JOIN maxn m ON m.project = c.proj) a
       |  WHERE NOT EXISTS (SELECT 1 FROM exps e
       |                    WHERE e.project = a.proj AND e.num = a.num)),
       |fout AS (
       |  SELECT 'fasta' AS family,
       |         'FASTA' || CAST(q.pn AS VARCHAR) || q.code AS code,
       |         q.code AS parent, f.num AS exp_num
       |  FROM frows q JOIN ffree f ON f.proj = q.proj AND f.frank = q.rk)
       |SELECT family, code, parent, exp_num FROM qout
       |UNION ALL SELECT family, code, parent, exp_num FROM fout
       |ORDER BY family, code""".stripMargin
  }

  /** DuckDB expression for the barcode checksum char of a 9-char string
    * expression `p9` (same arithmetic as registrySql's local helper). */
  private def sqlBarcodeCk(p9: String): String = {
    val s = s"CAST(list_aggregate(list_transform(generate_series(1, 9), " +
      s"i -> ord(substr($p9, i, 1)) * i), 'sum') % 34 + 48 AS INTEGER)"
    s"(CASE WHEN $s > 57 THEN chr($s + 7) ELSE chr($s) END)"
  }

  // ---------------------------------------------------------------- Q-qcml
  // The experiment-REUSE-BY-TYPE prefix families + the attach-only one,
  // three configs through one gate: qcml (MSQC, register-qcml-dropbox.py:
  // 76-91), fastqc (NGSQC, register-fastqc-dropbox/script.py:61-77) —
  // both take the project's existing experiment of their QC type, else
  // create it as count+1 — and peptidedata (register-peptidedata-dropbox/
  // script.py:82-88), which creates NOTHING and attaches the dataset to
  // the found parent directly. Experiment seeds give project A an MS-QC
  // experiment (reused) but no NGS one (created as count+1=4), project B
  // the reverse; a pre-seeded peptide dataset row proves the attach is
  // idempotent (appendNew keys on sample+path).
  def qcmlQ(s: SparkSession, dir: String): DataFrame = {
    val p = load(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
      .filter(pmod(col("k"), lit(20)) === 0)
      .withColumn("j", floor(col("k") / 20))
    val proj = concat(lit("QMSQ"), char(pmod(col("j"), lit(2)) + 65))
    val parent = graft.functions.Barcode.make(proj,
      floor(col("j") / 2) + 1, lit("E"))
    val samples = p.select(parent.as("code"),
      lit("Q_TEST_SAMPLE").as("sampleType"))
    val qcmlIn = p.select(concat(lit("/in/"), parent, lit(".qcml")).as("path"))
    val fastqcIn = p.filter(pmod(col("k"), lit(40)) === 0)
      .select(concat(lit("/in/"), parent, lit("_fastqc.zip")).as("path"))
    val pepIn = p.filter(pmod(col("k"), lit(60)) === 0)
      .select(concat(lit("/in/"), parent, lit(".pep.xml")).as("path"))
    val reg = load(s, dir, "region")
      .select(col("r_regionkey").cast("long").as("r"))
    val experiments = reg.select(
      concat(lit("QMSQ"), char(pmod(col("r"), lit(2)) + 65)).as("project"),
      (floor(col("r") / 2) + 1).as("num"),
      when(col("r") === 2, lit("Q_EXT_MS_QUALITYCONTROL"))
        .when(col("r") === 3, lit("Q_EXT_NGS_QUALITYCONTROL"))
        .otherwise(lit("X")).as("expType"))
    val noDs = p.select(lit("").as("code"), lit("").as("dsType"),
      lit("").as("sample"), lit("").as("path")).filter(lit(false))
    val pepSeed = p.filter(col("k") === 60)
      .select(parent.as("code"), lit("Q_PEPTIDE_DATA").as("dsType"),
        parent.as("sample"),
        concat(lit("/in/"), parent, lit(".pep.xml")).as("path"))
    val fam = graft.pipelines.PrefixRegistryPipeline.Families
    val qc = graft.pipelines.PrefixRegistryPipeline.run(
      fam("qcml"), qcmlIn, samples, experiments, noDs)
    val fq = graft.pipelines.PrefixRegistryPipeline.run(
      fam("fastqc"), fastqcIn, samples, experiments, noDs)
    val pp = graft.pipelines.PrefixRegistryPipeline.run(
      fam("peptidedata"), pepIn, samples, experiments, pepSeed)
    qc.samples.select(lit("qcml").as("family"), col("code"),
        col("parent"), col("exp_num"))
      .unionByName(fq.samples.select(lit("fastqc").as("family"), col("code"),
        col("parent"), col("exp_num")))
      .unionByName(pp.datasets.select(lit("pep").as("family"), col("code"),
        col("sample").as("parent"), lit(0L).as("exp_num")))
      .orderBy("family", "code")
  }

  private val qcmlSql = {
    val ck = sqlBarcodeCk("p9")
    s"""WITH par AS (
       |  SELECT CAST(p_partkey AS BIGINT) AS k,
       |         'QMSQ' || chr(CAST((p_partkey // 20) % 2 AS INTEGER) + 65) AS proj,
       |         'QMSQ' || chr(CAST((p_partkey // 20) % 2 AS INTEGER) + 65)
       |           || lpad(CAST((p_partkey // 20) // 2 + 1 AS VARCHAR), 3, '0')
       |           || 'E' AS p9
       |  FROM part WHERE p_partkey % 20 = 0),
       |par2 AS (SELECT k, proj, p9 || $ck AS code FROM par),
       |exps AS (
       |  SELECT 'QMSQ' || chr(CAST(r_regionkey % 2 AS INTEGER) + 65) AS project,
       |         CAST(r_regionkey // 2 + 1 AS BIGINT) AS num,
       |         CASE WHEN r_regionkey = 2 THEN 'MS'
       |              WHEN r_regionkey = 3 THEN 'NGS' ELSE 'X' END AS t
       |  FROM region),
       |agg AS (SELECT project,
       |          max(CASE WHEN t = 'MS' THEN num END) AS ms,
       |          max(CASE WHEN t = 'NGS' THEN num END) AS ngs,
       |          count(*) AS cnt
       |        FROM exps GROUP BY 1),
       |qout AS (SELECT 'qcml' AS family, 'MSQC' || c.code AS code,
       |                c.code AS parent,
       |                coalesce(a.ms, coalesce(a.cnt, 0) + 1) AS exp_num
       |         FROM par2 c LEFT JOIN agg a ON a.project = c.proj),
       |fout AS (SELECT 'fastqc' AS family, 'NGSQC' || c.code AS code,
       |                c.code AS parent,
       |                coalesce(a.ngs, coalesce(a.cnt, 0) + 1) AS exp_num
       |         FROM par2 c LEFT JOIN agg a ON a.project = c.proj
       |         WHERE c.k % 40 = 0),
       |pout AS (SELECT DISTINCT 'pep' AS family, code, code AS parent,
       |                CAST(0 AS BIGINT) AS exp_num
       |         FROM par2 WHERE k % 60 = 0)
       |SELECT family, code, parent, exp_num FROM qout
       |UNION ALL SELECT family, code, parent, exp_num FROM fout
       |UNION ALL SELECT family, code, parent, exp_num FROM pout
       |ORDER BY family, code""".stripMargin
  }

  // ------------------------------------------------------------- Q-epitope
  // The epitope-selection dropbox (register-epitope-selection.py:30-88)
  // through PrefixRegistryPipeline.runEpitope: lookup keyed on the
  // WORKFLOW sample code, VAC<n> numbers gap-filling against the
  // catalog's existing VAC constructs (seeds VAC1/VAC3 force n=2 first),
  // experiment suffixes scanned upward FROM count+1 over a gapped seed
  // set (project A owns {1,3,5} → first new suffix 4, then 6…).
  def epitopeQ(s: SparkSession, dir: String): DataFrame = {
    val p = load(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
      .filter(pmod(col("k"), lit(20)) === 0)
      .withColumn("j", floor(col("k") / 20))
    val proj = concat(lit("QEP"), char(pmod(col("j"), lit(2)) + 65), lit("X"))
    val barcode = graft.functions.Barcode.make(proj,
      floor(col("j") / 2) + 1, lit("E"))
    val wf = concat(proj, lit("E"),
      lpad((pmod(floor(col("j") / 2), lit(99)) + 1).cast("string"), 2, "0"),
      lit("A1"))
    val incoming = p.select(concat(lit("/in/"), barcode, lit("__"), wf,
      lit("_epitopes.txt")).as("path"))
    val wfs = p.select(wf.as("code")).distinct()
    val vacSeeds = wfs
      .filter(pmod(substring(col("code"), 7, 2).cast("long"), lit(3)) === 0)
      .select(explode(array(concat(lit("VAC1"), col("code")),
        concat(lit("VAC3"), col("code")))).as("code"))
    val samples = wfs.select(col("code"),
        lit("Q_WF_NGS_EPITOPE_PREDICTION_RUN").as("sampleType"))
      .unionByName(vacSeeds.select(col("code"),
        lit("Q_VACCINE_CONSTRUCT").as("sampleType")))
    val reg = load(s, dir, "region")
      .select(col("r_regionkey").cast("long").as("r"))
    val experiments = reg.select(
      concat(lit("QEP"), char(pmod(col("r"), lit(2)) + 65), lit("X")).as("project"),
      (col("r") + 1).as("num"),
      lit("Q_NGS_EPITOPE_SELECTION").as("expType"))
    val noDs = p.select(lit("").as("code"), lit("").as("dsType"),
      lit("").as("sample"), lit("").as("path")).filter(lit(false))
    val res = graft.pipelines.PrefixRegistryPipeline.runEpitope(
      incoming, samples, experiments, noDs)
    res.samples.select(col("code"), col("parent"), col("project"),
      col("exp_num")).orderBy("code")
  }

  private val epitopeSql = {
    val ck = sqlBarcodeCk("p9")
    s"""WITH par AS (
       |  SELECT CAST(p_partkey AS BIGINT) AS k,
       |         CAST(p_partkey // 20 AS BIGINT) AS j,
       |         'QEP' || chr(CAST((p_partkey // 20) % 2 AS INTEGER) + 65)
       |           || 'X' AS proj
       |  FROM part WHERE p_partkey % 20 = 0),
       |par1 AS (SELECT k, j, proj,
       |           proj || lpad(CAST(j // 2 + 1 AS VARCHAR), 3, '0') || 'E' AS p9,
       |           proj || 'E' || lpad(CAST((j // 2) % 99 + 1 AS VARCHAR), 2, '0')
       |             || 'A1' AS wf
       |         FROM par),
       |par2 AS (SELECT k, j, proj, wf,
       |           '/in/' || p9 || $ck || '__' || wf || '_epitopes.txt' AS path
       |         FROM par1),
       |wfs AS (SELECT DISTINCT wf FROM par2),
       |vacused AS (SELECT wf, unnest([CAST(1 AS BIGINT), CAST(3 AS BIGINT)]) AS num
       |            FROM wfs WHERE CAST(substr(wf, 7, 2) AS BIGINT) % 3 = 0),
       |vagg AS (SELECT wf, max(num) AS mn FROM vacused GROUP BY 1),
       |rows0 AS (SELECT k, proj, wf, path,
       |            row_number() OVER (PARTITION BY wf ORDER BY path) AS vrk,
       |            row_number() OVER (PARTITION BY proj ORDER BY path) AS erk
       |          FROM par2),
       |vcnt AS (SELECT wf, count(*) AS bc FROM rows0 GROUP BY 1),
       |vfree AS (SELECT wf, num,
       |            row_number() OVER (PARTITION BY wf ORDER BY num) AS frank
       |          FROM (SELECT c.wf,
       |                  unnest(generate_series(1, coalesce(a.mn, 0) + c.bc)) AS num
       |                FROM vcnt c LEFT JOIN vagg a ON a.wf = c.wf) x
       |          WHERE NOT EXISTS (SELECT 1 FROM vacused u
       |                            WHERE u.wf = x.wf AND u.num = x.num)),
       |exps AS (SELECT 'QEP' || chr(CAST(r_regionkey % 2 AS INTEGER) + 65)
       |                  || 'X' AS project,
       |                CAST(r_regionkey AS BIGINT) + 1 AS num FROM region),
       |eagg AS (SELECT project, max(num) AS mn, count(*) AS cnt
       |         FROM exps GROUP BY 1),
       |ecnt AS (SELECT proj, count(*) AS bc FROM rows0 GROUP BY 1),
       |efree AS (SELECT proj, num,
       |            row_number() OVER (PARTITION BY proj ORDER BY num) AS frank
       |          FROM (SELECT c.proj, coalesce(a.cnt, 0) AS cnt,
       |                  unnest(generate_series(1,
       |                    greatest(coalesce(a.mn, 0), coalesce(a.cnt, 0)) + c.bc)) AS num
       |                FROM ecnt c LEFT JOIN eagg a ON a.project = c.proj) x
       |          WHERE num > cnt
       |            AND NOT EXISTS (SELECT 1 FROM exps e
       |                            WHERE e.project = x.proj AND e.num = x.num))
       |SELECT 'VAC' || CAST(v.num AS VARCHAR) || r.wf AS code, r.wf AS parent,
       |       r.proj AS project, e.num AS exp_num
       |FROM rows0 r
       |JOIN vfree v ON v.wf = r.wf AND v.frank = r.vrk
       |JOIN efree e ON e.proj = r.proj AND e.frank = r.erk
       |ORDER BY code""".stripMargin
  }

  // ---------------------------------------------------------------- Q-ivac
  // register-ivac-lvl's 4-tier chain (reporting-plugins/register-ivac-lvl/
  // script.py:14-83) through IvacChainPipeline.register: every 50th
  // customer becomes a patient — one Q_BIOLOGICAL_ENTITY (+ the
  // Q_PROJECT_DETAILS / Q_EXPERIMENTAL_DESIGN experiment pair), two
  // biological samples, DNA+RNA test samples per bio sample, one NGS run
  // per test sample, with the parent edge set built tier by tier. Patient
  // 1's entity is pre-seeded in the catalog (empty props), so the gate
  // also proves appendNew drops the duplicate create.
  def ivacQ(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "customer")
      .filter(pmod(col("c_custkey"), lit(50)) === 0)
      .select((col("c_custkey") / 50).cast("long").as("pid"),
        col("c_name").as("secondary"))
      .withColumn("pc",
        concat(lit("QIVC"), lpad(col("pid").cast("string"), 3, "0")))
    val level1 = base.select(
      concat(col("pc"), lit("_INFO")).as("details_code"),
      map(lit("Q_SECONDARY_NAME"), col("secondary")).as("details_props"),
      concat(col("pc"), lit("_DSGN")).as("exp_code"),
      map(lit("Q_SECONDARY_NAME"), col("secondary"),
        lit("Q_CURRENT_STATUS"), lit("FINISHED")).as("exp_props"),
      concat(col("pc"), lit("_ENT")).as("sample_code"),
      map(lit("Q_NCBI_ORGANISM"), lit("9606"),
        lit("Q_SECONDARY_NAME"), col("secondary")).as("sample_props"))
    val bio = base.select(col("pc"), explode(array(lit(1), lit(2))).as("b"))
    val level2 = bio.select(
      concat(col("pc"), lit("_EXT"), col("b")).as("exp_code"),
      concat(col("pc"), lit("_BIO"), col("b")).as("sample_code"),
      concat(col("pc"), lit("_ENT")).as("parent"),
      map(lit("Q_PRIMARY_TISSUE"),
        when(col("b") === 1, lit("Blood")).otherwise(lit("Tumor")),
        lit("Q_TISSUE_DETAILED"), lit("NA")).as("sample_props"))
    val tst = bio.select(col("pc"), col("b"),
      explode(array(lit("DNA"), lit("RNA"))).as("t"))
    val level3 = tst.select(
      concat(col("pc"), lit("_PREP"), col("b"), col("t")).as("exp_code"),
      concat(col("pc"), lit("_TST"), col("b"), col("t")).as("sample_code"),
      concat(col("pc"), lit("_BIO"), col("b")).as("parent"),
      map(lit("Q_SAMPLE_TYPE"), col("t")).as("sample_props"))
    val level4 = tst.select(
      concat(col("pc"), lit("_MEAS"), col("b"), col("t")).as("exp_code"),
      concat(col("pc"), lit("_RUN"), col("b"), col("t")).as("sample_code"),
      concat(col("pc"), lit("_TST"), col("b"), col("t")).as("parent"),
      map(lit("Q_SEQUENCING_TYPE"), col("t"),
        lit("Q_CURRENT_STATUS"), lit("STARTED"),
        lit("Q_SEQUENCER_DEVICE"), lit("ILLUMINA")).as("exp_props"))
    val seedSamples = base.filter(col("pid") === 1).select(
      concat(col("pc"), lit("_ENT")).as("code"),
      lit("Q_BIOLOGICAL_ENTITY").as("sampleType"),
      concat(col("pc"), lit("_DSGN")).as("experiment"),
      map().cast("map<string,string>").as("props"))
    val noExp = level1.limit(0).select(col("details_code").as("code"),
      lit("").as("expType"), col("details_props").as("props"))
    val noEdge = level2.limit(0).select(col("parent"),
      col("sample_code").as("child"))
    val res = graft.pipelines.IvacChainPipeline.register(
      seedSamples, noExp, noEdge, level1, level2, level3, level4)
    val sOut = res.samples
      .join(res.edges.withColumnRenamed("child", "code"), Seq("code"), "left")
      .select(lit("sample").as("kind"), col("code"),
        col("sampleType").as("typ"), col("experiment").as("link"),
        coalesce(col("parent"), lit("")).as("parent"),
        coalesce(element_at(col("props"), "Q_SAMPLE_TYPE"),
          element_at(col("props"), "Q_NCBI_ORGANISM"), lit("")).as("prop"))
    val eOut = res.experiments.select(lit("exp").as("kind"), col("code"),
      col("expType").as("typ"), lit("").as("link"), lit("").as("parent"),
      coalesce(element_at(col("props"), "Q_SEQUENCING_TYPE"), lit(""))
        .as("prop"))
    sOut.unionByName(eOut).orderBy("kind", "code")
  }

  private val ivacSql =
    """WITH pat AS (
      |  SELECT CAST(c_custkey // 50 AS BIGINT) AS pid,
      |         'QIVC' || lpad(CAST(c_custkey // 50 AS VARCHAR), 3, '0') AS pc
      |  FROM customer WHERE c_custkey % 50 = 0),
      |b AS (SELECT pc, pid, unnest([1, 2]) AS b FROM pat),
      |t AS (SELECT pc, pid, b, unnest(['DNA', 'RNA']) AS t FROM b),
      |samp AS (
      |  SELECT pc || '_ENT' AS code, 'Q_BIOLOGICAL_ENTITY' AS typ,
      |         pc || '_DSGN' AS link, '' AS parent,
      |         CASE WHEN pid = 1 THEN '' ELSE '9606' END AS prop FROM pat
      |  UNION ALL
      |  SELECT pc || '_BIO' || CAST(b AS VARCHAR), 'Q_BIOLOGICAL_SAMPLE',
      |         pc || '_EXT' || CAST(b AS VARCHAR), pc || '_ENT', '' FROM b
      |  UNION ALL
      |  SELECT pc || '_TST' || CAST(b AS VARCHAR) || t, 'Q_TEST_SAMPLE',
      |         pc || '_PREP' || CAST(b AS VARCHAR) || t,
      |         pc || '_BIO' || CAST(b AS VARCHAR), t FROM t
      |  UNION ALL
      |  SELECT pc || '_RUN' || CAST(b AS VARCHAR) || t,
      |         'Q_NGS_SINGLE_SAMPLE_RUN',
      |         pc || '_MEAS' || CAST(b AS VARCHAR) || t,
      |         pc || '_TST' || CAST(b AS VARCHAR) || t, '' FROM t),
      |exp AS (
      |  SELECT pc || '_INFO' AS code, 'Q_PROJECT_DETAILS' AS typ,
      |         '' AS prop FROM pat
      |  UNION ALL SELECT pc || '_DSGN', 'Q_EXPERIMENTAL_DESIGN', '' FROM pat
      |  UNION ALL SELECT pc || '_EXT' || CAST(b AS VARCHAR),
      |            'Q_SAMPLE_EXTRACTION', '' FROM b
      |  UNION ALL SELECT pc || '_PREP' || CAST(b AS VARCHAR) || t,
      |            'Q_SAMPLE_PREPARATION', '' FROM t
      |  UNION ALL SELECT pc || '_MEAS' || CAST(b AS VARCHAR) || t,
      |            'Q_NGS_MEASUREMENT', t FROM t)
      |SELECT 'sample' AS kind, code, typ, link, parent, prop FROM samp
      |UNION ALL
      |SELECT 'exp' AS kind, code, typ, '' AS link, '' AS parent, prop FROM exp
      |ORDER BY kind, code""".stripMargin

  // ---------------------------------------------------------- Q-samplebatch
  // register-sample-batch (reporting-plugins/register-sample-batch/
  // script.py:19-62) through MutationServices.registerSampleBatch, BOTH
  // modes in one row: every 3rd batch row collides with a pre-existing
  // code (strict → SAMPLE_ALREADY_CREATED error rows, the engine form of
  // the reference's SampleAlreadyExistsError raise; IGNORE EXISTING →
  // silently 'skipped'), and every (k/10)%3==2 row names an experiment
  // absent from the catalog (EXPERIMENT_NOT_FOUND either way). Good rows
  // commit regardless — the partial-batch semantics the per-row error
  // channel exists for.
  def sampleBatchQ(s: SparkSession, dir: String): DataFrame = {
    val sup = load(s, dir, "supplier")
      .select(col("s_suppkey").cast("long").as("k"))
      .filter(pmod(col("k"), lit(10)) === 0)
    val batch = sup.select(
      concat(lit("QSMB"), lpad(col("k").cast("string"), 5, "0")).as("code"),
      concat(lit("QSMBE"),
        (pmod(floor(col("k") / 10), lit(3)) + 1).cast("string")).as("experiment"),
      lit("Q_TEST_SAMPLE").as("sampleType"),
      map(lit("Q_SECONDARY_NAME"),
        concat(lit("s"), col("k").cast("string"))).as("props"))
    val existing = sup.filter(pmod(col("k"), lit(30)) === 0).select(
      concat(lit("QSMB"), lpad(col("k").cast("string"), 5, "0")).as("code"),
      lit("QSMBE1").as("experiment"), lit("Q_TEST_SAMPLE").as("sampleType"),
      map().cast("map<string,string>").as("props"))
    val exps = load(s, dir, "region").filter(col("r_regionkey") < 2)
      .select(concat(lit("QSMBE"),
        (col("r_regionkey") + 1).cast("string")).as("code"))
    val strict = graft.pipelines.MutationServices.registerSampleBatch(
      existing, exps, batch, ignoreExisting = false)
    val ignore = graft.pipelines.MutationServices.registerSampleBatch(
      existing, exps, batch, ignoreExisting = true)
    strict.status.select(lit("strict").as("mode"), col("code"), col("status"))
      .unionByName(ignore.status
        .select(lit("ignore").as("mode"), col("code"), col("status")))
      .orderBy("mode", "code")
  }

  private val sampleBatchSql =
    """WITH sup AS (SELECT CAST(s_suppkey AS BIGINT) AS k FROM supplier
      |             WHERE s_suppkey % 10 = 0),
      |b AS (SELECT k, 'QSMB' || lpad(CAST(k AS VARCHAR), 5, '0') AS code,
      |             (k // 10) % 3 AS e3, k % 30 = 0 AS coll FROM sup)
      |SELECT 'strict' AS mode, code,
      |       CASE WHEN coll THEN 'SAMPLE_ALREADY_CREATED'
      |            WHEN e3 = 2 THEN 'EXPERIMENT_NOT_FOUND'
      |            ELSE 'created' END AS status FROM b
      |UNION ALL
      |SELECT 'ignore' AS mode, code,
      |       CASE WHEN coll THEN 'skipped'
      |            WHEN e3 = 2 THEN 'EXPERIMENT_NOT_FOUND'
      |            ELSE 'created' END AS status FROM b
      |ORDER BY mode, code""".stripMargin

  // ------------------------------------------------------------ Q-msdropbox
  // The find-or-create dropbox variants through one gate: mzML
  // (register-mzml-dropbox.py:77-104 — MS<code> run sample reused when
  // already registered, experiment reused by type else count+1) and bam
  // (register-bam.py:78-133 — MP<code> find-or-create, experiment suffix
  // scanned upward from count+1, never gap-filling), plus the omero
  // IMG<n> rule (register-omero.py:84-132 — run number gap-filled
  // against the CATALOG per parent, seeded IMG1/IMG3 force n=2). Every
  // 5th parent pre-owns its MS sample and every 10th its MP sample, so
  // both reuse paths and both create paths cross the hash; datasets
  // attach either way (the *_ds rows).
  def msDropboxQ(s: SparkSession, dir: String): DataFrame = {
    val p = load(s, dir, "part").select(col("p_partkey").cast("long").as("k"))
      .filter(pmod(col("k"), lit(20)) === 0)
      .withColumn("j", floor(col("k") / 20))
    val proj = concat(lit("QMZD"), char(pmod(col("j"), lit(2)) + 65))
    val parent = graft.functions.Barcode.make(proj,
      floor(col("j") / 2) + 1, lit("E"))
    val samples = p.select(parent.as("code"),
        lit("Q_TEST_SAMPLE").as("sampleType"))
      .unionByName(p.filter(pmod(col("j"), lit(5)) === 0)
        .select(concat(lit("MS"), parent).as("code"),
          lit("Q_MS_RUN").as("sampleType")))
      .unionByName(p.filter(pmod(col("j"), lit(10)) === 0)
        .select(concat(lit("MP"), parent).as("code"),
          lit("Q_NGS_MAPPING").as("sampleType")))
      .unionByName(p.filter(pmod(col("j"), lit(20)) === 0)
        .select(explode(array(concat(lit("IMG1"), parent),
          concat(lit("IMG3"), parent))).as("code"))
        .select(col("code"), lit("Q_BMI_GENERIC_IMAGING_RUN").as("sampleType")))
    val reg = load(s, dir, "region")
      .select(col("r_regionkey").cast("long").as("r"))
    val experiments = reg.select(
      concat(lit("QMZD"), char(pmod(col("r"), lit(2)) + 65)).as("project"),
      (floor(col("r") / 2) + 1).as("num"),
      when(col("r") === 2, lit("Q_MS_MEASUREMENT"))
        .otherwise(lit("X")).as("expType"))
    val mzIn = p.select(concat(lit("/in/"), parent, lit(".mzML")).as("path"))
    val bamIn = p.filter(pmod(col("k"), lit(40)) === 0)
      .select(concat(lit("/in/"), parent, lit(".bam")).as("path"))
    val imgIn = p.filter(pmod(col("k"), lit(80)) === 0)
      .select(concat(lit("/in/"), parent, lit("_scan.czi")).as("path"))
    val noDs = p.select(lit("").as("code"), lit("").as("dsType"),
      lit("").as("sample"), lit("").as("path")).filter(lit(false))
    val fam = graft.pipelines.PrefixRegistryPipeline.Families
    val mz = graft.pipelines.PrefixRegistryPipeline.run(
      fam("mzml"), mzIn, samples, experiments, noDs)
    val bm = graft.pipelines.PrefixRegistryPipeline.run(
      fam("bam"), bamIn, samples, experiments, noDs)
    val im = graft.pipelines.PrefixRegistryPipeline.run(
      fam("imgrun"), imgIn, samples, experiments, noDs)
    mz.samples.select(lit("mzml").as("family"), col("code"),
        col("parent"), col("exp_num"))
      .unionByName(bm.samples.select(lit("bam").as("family"), col("code"),
        col("parent"), col("exp_num")))
      .unionByName(im.samples.select(lit("img").as("family"), col("code"),
        col("parent"), col("exp_num")))
      .unionByName(mz.datasets.select(lit("mzml_ds").as("family"),
        col("code"), col("sample").as("parent"), lit(0L).as("exp_num")))
      .unionByName(bm.datasets.select(lit("bam_ds").as("family"),
        col("code"), col("sample").as("parent"), lit(0L).as("exp_num")))
      .unionByName(im.datasets.select(lit("img_ds").as("family"),
        col("code"), col("sample").as("parent"), lit(0L).as("exp_num")))
      .orderBy("family", "code")
  }

  private val msDropboxSql = {
    val ck = sqlBarcodeCk("p9")
    s"""WITH par AS (
       |  SELECT CAST(p_partkey AS BIGINT) AS k,
       |         CAST(p_partkey // 20 AS BIGINT) AS j,
       |         'QMZD' || chr(CAST((p_partkey // 20) % 2 AS INTEGER) + 65) AS proj,
       |         'QMZD' || chr(CAST((p_partkey // 20) % 2 AS INTEGER) + 65)
       |           || lpad(CAST((p_partkey // 20) // 2 + 1 AS VARCHAR), 3, '0')
       |           || 'E' AS p9
       |  FROM part WHERE p_partkey % 20 = 0),
       |par2 AS (SELECT k, j, proj, p9 || $ck AS code FROM par),
       |exps AS (
       |  SELECT 'QMZD' || chr(CAST(r_regionkey % 2 AS INTEGER) + 65) AS project,
       |         CAST(r_regionkey // 2 + 1 AS BIGINT) AS num,
       |         CASE WHEN r_regionkey = 2 THEN 'MS' ELSE 'X' END AS t
       |  FROM region),
       |agg AS (SELECT project, max(CASE WHEN t = 'MS' THEN num END) AS msmax,
       |               count(*) AS cnt FROM exps GROUP BY 1),
       |mz AS (SELECT k, j, proj, code, 'MS' || code AS run,
       |              (j % 5 = 0) AS reused FROM par2),
       |bam AS (SELECT k, j, proj, code, 'MP' || code AS run,
       |               (j % 10 = 0) AS reused,
       |               '/in/' || code || '.bam' AS path
       |        FROM par2 WHERE k % 40 = 0),
       |bcr AS (SELECT b.*, row_number() OVER (PARTITION BY proj
       |                                       ORDER BY path) AS rk
       |        FROM bam b WHERE NOT reused),
       |img AS (SELECT k, j, proj, code,
       |               'IMG' || (CASE WHEN j % 20 = 0 THEN '2' ELSE '1' END)
       |                 || code AS run,
       |               '/in/' || code || '_scan.czi' AS path
       |        FROM par2 WHERE k % 80 = 0),
       |icr AS (SELECT i.*, row_number() OVER (PARTITION BY proj
       |                                       ORDER BY path) AS rk
       |        FROM img i)
       |SELECT 'mzml' AS family, m.run AS code, m.code AS parent,
       |       coalesce(a.msmax, a.cnt + 1) AS exp_num
       |FROM mz m JOIN agg a ON a.project = m.proj WHERE NOT m.reused
       |UNION ALL
       |SELECT 'bam', b.run, b.code, a.cnt + b.rk
       |FROM bcr b JOIN agg a ON a.project = b.proj
       |UNION ALL
       |SELECT 'img', i.run, i.code, a.cnt + i.rk
       |FROM icr i JOIN agg a ON a.project = i.proj
       |UNION ALL
       |SELECT 'mzml_ds', run, run, CAST(0 AS BIGINT) FROM mz
       |UNION ALL
       |SELECT 'bam_ds', run, run, CAST(0 AS BIGINT) FROM bam
       |UNION ALL
       |SELECT 'img_ds', run, run, CAST(0 AS BIGINT) FROM img
       |ORDER BY family, code""".stripMargin
  }

  // ------------------------------------------------------------ Q-propupdate
  // The two remaining parameter-map mutation services through one gate:
  // update-sample-metadata (reporting-plugins/update-sample-metadata/
  // script.py:1-39 — per-id property values, new keys merge in, updated
  // keys win, untouched keys survive, unknown ids logged-and-skipped)
  // and set-experiment-for-samples (set-experiment-for-samples/
  // script.py:1-10 — repoint named samples at an experiment). The
  // 25-row nation dim seeds overlapping update sets (every 2nd code's
  // name rewritten, every 3rd gains a new key, every 5th repointed, one
  // ghost id) so merge precedence, key survival, and the not-found
  // channel all cross the hash.
  def propUpdateQ(s: SparkSession, dir: String): DataFrame = {
    val nat = load(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("key"),
        col("n_name").as("name"), col("n_regionkey").cast("long").as("r"))
    val samples = nat.select(
      concat(lit("QPU"), col("key")).as("code"),
      lit("Q_TEST_SAMPLE").as("sampleType"), lit("QPUE1").as("experiment"),
      map(lit("Q_SECONDARY_NAME"), col("name"),
        lit("Q_KEEP"), concat(lit("k"), col("key"))).as("props"))
    val updates = nat.filter(pmod(col("key"), lit(2)) === 0)
      .select(concat(lit("QPU"), col("key")).as("code"),
        lit("Q_SECONDARY_NAME").as("prop"), upper(col("name")).as("value"))
      .unionByName(nat.filter(pmod(col("key"), lit(3)) === 0)
        .select(concat(lit("QPU"), col("key")).as("code"),
          lit("Q_ADDITIONAL_INFO").as("prop"),
          concat(lit("r"), col("r")).as("value")))
      .unionByName(nat.filter(col("key") === 0)
        .select(lit("QPU999").as("code"),
          lit("Q_SECONDARY_NAME").as("prop"), lit("ghost").as("value")))
    val upd = graft.pipelines.MutationServices
      .updateSampleMetadata(samples, updates)
    val exps = load(s, dir, "region")
      .select(concat(lit("QPUE"), col("r_regionkey") + 1).as("code"))
    val repointed = graft.pipelines.MutationServices
      .setExperimentForSamples(upd.samples, exps,
        Seq("QPU0", "QPU5", "QPU10", "QPU15", "QPU20"), "QPUE2")
    repointed.select(lit("sample").as("kind"), col("code"),
        col("experiment"),
        coalesce(element_at(col("props"), "Q_SECONDARY_NAME"), lit("")).as("sec"),
        coalesce(element_at(col("props"), "Q_ADDITIONAL_INFO"), lit("")).as("info"),
        coalesce(element_at(col("props"), "Q_KEEP"), lit("")).as("keep"))
      .unionByName(upd.status.select(lit("status").as("kind"), col("code"),
        col("status").as("experiment"), lit("").as("sec"),
        lit("").as("info"), lit("").as("keep")))
      .orderBy("kind", "code")
  }

  private val propUpdateSql =
    """WITH nat AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS key, n_name AS name,
      |         CAST(n_regionkey AS BIGINT) AS r,
      |         'QPU' || CAST(n_nationkey AS VARCHAR) AS code
      |  FROM nation),
      |samp AS (
      |  SELECT code,
      |         CASE WHEN key IN (0, 5, 10, 15, 20) THEN 'QPUE2'
      |              ELSE 'QPUE1' END AS experiment,
      |         CASE WHEN key % 2 = 0 THEN upper(name) ELSE name END AS sec,
      |         CASE WHEN key % 3 = 0 THEN 'r' || CAST(r AS VARCHAR)
      |              ELSE '' END AS info,
      |         'k' || CAST(key AS VARCHAR) AS keep
      |  FROM nat),
      |st AS (
      |  SELECT DISTINCT code, 'updated' AS status FROM nat
      |  WHERE key % 2 = 0 OR key % 3 = 0
      |  UNION ALL SELECT 'QPU999', 'SAMPLE_NOT_FOUND')
      |SELECT 'sample' AS kind, code, experiment, sec, info, keep FROM samp
      |UNION ALL
      |SELECT 'status', code, status, '', '', '' FROM st
      |ORDER BY kind, code""".stripMargin

  // ------------------------------------------------------------- Q-expbatch
  // The experiment-side parameter-map services through one gate
  // (ExperimentServices): register-exp batch creation — in-batch
  // duplicate codes skipped first-wins by parameter index, catalog
  // collisions as EXPERIMENT_ALREADY_CREATED error rows, dd-MM-yyyy
  // property values normalized to 'yyyy-MM-dd HH:mm:ss' (script.py:4-11),
  // and the ENZYMES rule: each such experiment takes the next FREE
  // numbered <project>_Proteases<m> material (bare, 1, 2, … with taken
  // numbers gap-probed — the reference's while loop at :15-22), carries
  // Q_PROTEASE_<i> per enzyme, and is pointed at via
  // Q_PROTEASE_DIGESTION — plus registerUponWorkflow's count-based
  // experiment numbering with its MSQC sample pair and verbatim parent
  // edge (script.py:19-22,50). Seeds: every 2nd nation row carries a
  // date prop, every 3rd an enzyme list; QEX5/QEX10 pre-exist
  // (collisions), QEX7 repeats in-batch (skip), materials bare+2 are
  // taken so the numbering must fill 1 then jump to 3. ORACLE derives
  // dates, gap numbers (rank 1 → 1, rank r → r+1), and the wf count
  // independently from the seed tables.
  def expBatchQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nat = load(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("key"),
        col("n_name").as("name"))
    val existing = Seq("QEX5", "QEX10").toDF("code")
      .withColumn("expType", lit("Q_EXPERIMENTAL_DESIGN"))
      .withColumn("props", map(lit("Q_SECONDARY_NAME"), lit("seed")))
    val mats = Seq("QEXP_Proteases", "QEXP_Proteases2").toDF("code")
      .withColumn("matType", lit("Q_PROTEASE_PROTOCOL"))
      .withColumn("props", map().cast("map<string,string>"))
    val batch = nat.select(col("key").as("idx"),
        concat(lit("QEX"), col("key")).as("code"),
        lit("Q_EXPERIMENTAL_DESIGN").as("expType"),
        when(pmod(col("key"), lit(2)) === 0,
          map(lit("Q_SECONDARY_NAME"), col("name"),
            lit("Q_MS_DATE"), format_string("%02d-%02d-2023",
              pmod(col("key"), lit(28)) + 1, pmod(col("key"), lit(12)) + 1)))
          .otherwise(map(lit("Q_SECONDARY_NAME"), col("name"))).as("props"),
        when(pmod(col("key"), lit(3)) === 0,
          array(lit("Trypsin"), concat(lit("LysC_"), col("key"))))
          .otherwise(lit(null).cast("array<string>")).as("enzymes"))
      .unionByName(Seq((100L, "QEX7", "Q_EXPERIMENTAL_DESIGN"))
        .toDF("idx", "code", "expType")
        .withColumn("props", map(lit("Q_SECONDARY_NAME"), lit("dup")))
        .withColumn("enzymes", lit(null).cast("array<string>")))
    val res = graft.pipelines.ExperimentServices.registerExperiments(
      existing, mats, batch, "QEXP")
    val wf = graft.pipelines.ExperimentServices.workflowRegistration(
      res.experiments,
      Seq.empty[(String, String, String)]
        .toDF("code", "sampleType", "experiment")
        .withColumn("props", map().cast("map<string,string>")),
      Seq.empty[(String, String)].toDF("parent", "child"),
      "QWF", "Q_MS_MEASUREMENT", "RUN1", "Q_MS_RUN",
      expProps = Map("Q_STATUS" -> "STARTED"))
    res.experiments.select(lit("exp").as("kind"), col("code"),
        coalesce(element_at(col("props"), "Q_SECONDARY_NAME"), lit("")).as("a"),
        coalesce(element_at(col("props"), "Q_MS_DATE"), lit("")).as("b"),
        coalesce(element_at(col("props"), "Q_PROTEASE_DIGESTION"), lit("")).as("c"))
      .unionByName(res.materials.select(lit("mat").as("kind"), col("code"),
        coalesce(element_at(col("props"), "Q_PROTEASE_1"), lit("")).as("a"),
        coalesce(element_at(col("props"), "Q_PROTEASE_2"), lit("")).as("b"),
        col("matType").as("c")))
      .unionByName(res.status.select(lit("status").as("kind"), col("code"),
        col("status").as("a"), lit("").as("b"), lit("").as("c")))
      .unionByName(wf.experiments
        .filter(col("code").substr(lit(1), lit(3)) === "QWF")
        .select(lit("wf").as("kind"), col("code"),
          coalesce(element_at(col("props"), "Q_STATUS"), lit("")).as("a"),
          lit("").as("b"), lit("").as("c")))
      .unionByName(wf.samples.select(lit("wfsample").as("kind"), col("code"),
        col("experiment").as("a"), col("sampleType").as("b"),
        lit("").as("c")))
      .unionByName(wf.edges.select(lit("wfedge").as("kind"),
        col("child").as("code"), col("parent").as("a"), lit("").as("b"),
        lit("").as("c")))
      .orderBy("kind", "code", "a")
  }

  private val expBatchSql =
    """WITH nat AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm,
      |         'QEX' || CAST(n_nationkey AS VARCHAR) AS code
      |  FROM nation),
      |surv AS (  -- created rows: collisions QEX5/QEX10 stay out
      |  SELECT * FROM nat WHERE k NOT IN (5, 10)),
      |enz AS (   -- enzyme rows among survivors, ranked by param index
      |  SELECT k, code, row_number() OVER (ORDER BY k) AS r
      |  FROM surv WHERE k % 3 = 0),
      |matn AS (  -- free numbers with bare(0) and 2 taken: 1, 3, 4, ...
      |  SELECT k, code,
      |         CASE WHEN r = 1 THEN 1 ELSE r + 1 END AS n FROM enz),
      |exp AS (
      |  SELECT s.code,
      |         s.nm AS a,
      |         CASE WHEN s.k % 2 = 0 THEN printf('2023-%02d-%02d 00:00:00',
      |           s.k % 12 + 1, s.k % 28 + 1) ELSE '' END AS b,
      |         coalesce('QEXP_Proteases' || CAST(m.n AS VARCHAR), '') AS c
      |  FROM surv s LEFT JOIN matn m ON s.k = m.k
      |  UNION ALL
      |  SELECT 'QEX5', 'seed', '', ''
      |  UNION ALL SELECT 'QEX10', 'seed', '', ''),
      |mat AS (
      |  SELECT 'QEXP_Proteases' || CAST(n AS VARCHAR) AS code,
      |         'Trypsin' AS a, 'LysC_' || CAST(k AS VARCHAR) AS b,
      |         'Q_PROTEASE_PROTOCOL' AS c
      |  FROM matn
      |  UNION ALL SELECT 'QEXP_Proteases', '', '', 'Q_PROTEASE_PROTOCOL'
      |  UNION ALL SELECT 'QEXP_Proteases2', '', '', 'Q_PROTEASE_PROTOCOL'),
      |st AS (
      |  SELECT code, CASE WHEN k IN (5, 10)
      |                    THEN 'EXPERIMENT_ALREADY_CREATED'
      |                    ELSE 'created' END AS a
      |  FROM nat
      |  UNION ALL SELECT 'QEX7', 'skipped'),
      |wfn AS (SELECT count(*) + 1 AS n FROM nat)  -- 25 result exps + 1
      |SELECT kind, code, a, b, c FROM (
      |  SELECT 'exp' AS kind, code, a, b, c FROM exp
      |  UNION ALL SELECT 'mat', code, a, b, c FROM mat
      |  UNION ALL SELECT 'status', code, a, '', '' FROM st
      |  UNION ALL SELECT 'wf', 'QWF' || CAST(n AS VARCHAR), 'STARTED', '', ''
      |    FROM wfn
      |  UNION ALL SELECT 'wfsample', 'MSQCRUN1',
      |    'QWF' || CAST(n AS VARCHAR), 'Q_MS_RUN', '' FROM wfn
      |  UNION ALL SELECT 'wfsample', 'MSQCRUN1T',
      |    'QWF' || CAST(n AS VARCHAR), 'Q_MS_RUN', '' FROM wfn
      |  UNION ALL SELECT 'wfedge', 'MSQCRUN1', 'RUN1T', '', ''
      |) ORDER BY kind, code, a""".stripMargin

  // ------------------------------------------------------------ Q-lifecycle
  // SURVEY §7 step 3 as ONE verified artifact: the full dropbox arc —
  // marker gate (S2) → barcode parse/validate (P1/P2) → catalog lookup
  // (J6, miss = error row) → next-free run number (W2) → idempotent
  // dataset append (K1) → per-project report (A1) — over a REAL rendered
  // incoming tree, re-run idempotently INSIDE the gate: the second run's
  // registrations are emitted as `rerun_new` rows, and the oracle has
  // none, so any non-no-op re-run hash-fails. The tree seeds three error
  // classes (no barcode, bad checksum, unknown sample), an ungated
  // submission (sub4, no marker), and a project with pre-existing run
  // numbers (QLIFA max 2 → new ids start at 3).
  private val LifecycleFixtureDir = s"$FixtureRoot/lifecycle"

  /** Driver-side twin of Barcode.checksumChar for fixture rendering. */
  private def barcodeCkScala(p9: String): Char = {
    val m = p9.zipWithIndex.map { case (c, i) => c.toInt * (i + 1) }.sum % 34 + 48
    (if (m > 57) m + 7 else m).toChar
  }

  /** Render the incoming tree: one `sub<region>` submission dir per
    * region, one fastq per nation named by its barcode, markers for
    * sub0-sub3 only, plus a barcode-less file and a checksum-corrupted
    * one in sub0. Bounded driver work (25 nations + 2), re-rendered each
    * call for idempotency. */
  private def renderLifecycle(s: SparkSession, dir: String): Unit = {
    import java.nio.file.{Files => JFiles, Paths}
    val base = Paths.get(LifecycleFixtureDir)
    if (JFiles.exists(base)) {
      val it = JFiles.walk(base).sorted(java.util.Comparator.reverseOrder())
      it.forEach(p => JFiles.delete(p))
    }
    val nations = load(s, dir, "nation")
      .select("n_name", "n_nationkey", "n_regionkey")
      .collect() // 25 rows, fixture rendering only
    nations.foreach { r =>
      val (name, key, region) = (r.getString(0), r.getInt(1), r.getInt(2))
      val p9 = f"QLIF${('A' + region).toChar}${key + 1}%03dE"
      val d = base.resolve(s"sub$region")
      JFiles.createDirectories(d)
      JFiles.write(d.resolve(s"$p9${barcodeCkScala(p9)}_R1.fastq"),
        s"$name|$key".getBytes("UTF-8"))
      ()
    }
    JFiles.write(base.resolve("sub0/notes.fastq"),
      "no barcode here".getBytes("UTF-8"))
    val p9bad = "QLIFA999E"
    val wrong = if (barcodeCkScala(p9bad) == '0') '1' else '0'
    JFiles.write(base.resolve(s"sub0/$p9bad${wrong}_R1.fastq"),
      "corrupt".getBytes("UTF-8"))
    (0 to 3).foreach { k =>
      JFiles.write(base.resolve(s".MARKER_is_finished_sub$k"),
        Array.emptyByteArray)
      ()
    }
  }

  def lifecycleQ(s: SparkSession, dir: String): DataFrame = {
    renderLifecycle(s, dir)
    val rel = (c: Column) => regexp_replace(c,
      ".*" + java.util.regex.Pattern.quote(LifecycleFixtureDir) + "/", "")
    val files = Files.binaryScan(s, LifecycleFixtureDir, glob = "*.fastq")
    val incoming = Files
      .markerGated(files, Files.listMarkers(s, LifecycleFixtureDir))
      .select(col("path"))
    val nat = load(s, dir, "nation")
      .select(col("n_nationkey").cast("int").as("key"),
        col("n_regionkey").cast("int").as("region"))
    val proj = concat(lit("QLIF"), char(col("region") + 65))
    val bc = graft.functions.Barcode.make(proj, col("key") + 1, lit("E"))
    // nation 3 is withheld from the catalog → its (marked) file must come
    // back out the SAMPLE_NOT_FOUND channel, not abort the batch
    val samples = nat.filter(col("key") =!= 3)
      .select(bc.as("code"), lit("Q_TEST_SAMPLE").as("sampleType"))
    val seed = nat.filter(col("key") === 0)
      .select(explode(array(lit(1), lit(2))).as("n"), bc.as("sample"))
      .select(concat(col("sample"), lit("_"), col("n")).as("code"),
        lit("FASTQ").as("dsType"), col("sample"), lit("seed").as("path"))
    val r1 = graft.pipelines.FastqPipeline.run(incoming, samples, seed)
    val r2 = graft.pipelines.FastqPipeline.run(incoming, samples, r1.registered)
    val ds = r1.registered.select(lit("dataset").as("kind"), col("code"),
      col("sample"), rel(col("path")).as("path"), lit(0L).as("n"))
    val er = r1.errors.select(lit("error").as("kind"),
      element_at(col("__errors"), 1).as("code"), lit("").as("sample"),
      rel(col("path")).as("path"), lit(0L).as("n"))
    val rp = r1.report.select(lit("report").as("kind"),
      col("project").as("code"), lit("").as("sample"), lit("").as("path"),
      col("n_datasets").cast("long").as("n"))
    val rn = r2.registered
      .join(r1.registered.select("code"), Seq("code"), "left_anti")
      .select(lit("rerun_new").as("kind"), col("code"), col("sample"),
        rel(col("path")).as("path"), lit(0L).as("n"))
    ds.unionByName(er).unionByName(rp).unionByName(rn)
      .orderBy("kind", "code", "path")
  }

  private val lifecycleSql = {
    val ck = sqlBarcodeCk("p9")
    val ckBc = sqlBarcodeCk("substr(bc, 1, 9)")
    s"""WITH files AS (
       |  SELECT replace(filename, '$LifecycleFixtureDir/', '') AS rel
       |  FROM read_blob('$LifecycleFixtureDir/**/*.fastq')),
       |markers AS (
       |  SELECT replace(string_split(filename, '/')[-1],
       |                 '.MARKER_is_finished_', '') AS target
       |  FROM read_blob('$LifecycleFixtureDir/.MARKER_is_finished_*')),
       |gated AS (
       |  SELECT rel FROM files
       |  WHERE string_split(rel, '/')[1] IN (SELECT target FROM markers)),
       |parsed AS (
       |  SELECT rel,
       |         coalesce(regexp_extract(rel,
       |           'Q\\w{4}[0-9]{3}[a-zA-Z]\\w', 0), '') AS bc
       |  FROM gated),
       |nat AS (
       |  SELECT CAST(n_nationkey AS INTEGER) AS key,
       |         'QLIF' || chr(CAST(n_regionkey AS INTEGER) + 65)
       |           || lpad(CAST(n_nationkey + 1 AS VARCHAR), 3, '0')
       |           || 'E' AS p9
       |  FROM nation),
       |cat AS (SELECT key, p9 || $ck AS code FROM nat WHERE key <> 3),
       |tagged AS (
       |  SELECT rel, bc,
       |         CASE WHEN bc = '' THEN 'METADATA_FORMATTING'
       |              WHEN substr(bc, 10, 1) <> $ckBc THEN 'CHECKSUM_MISMATCH'
       |              WHEN bc NOT IN (SELECT code FROM cat)
       |                THEN 'SAMPLE_NOT_FOUND'
       |              ELSE '' END AS err
       |  FROM parsed),
       |seedmax AS (
       |  SELECT substr(code, 1, 5) AS project, CAST(2 AS BIGINT) AS mx
       |  FROM cat WHERE key = 0),
       |ok AS (
       |  SELECT rel, bc, substr(bc, 1, 5) AS project,
       |         row_number() OVER (PARTITION BY substr(bc, 1, 5)
       |                            ORDER BY rel) AS rk
       |  FROM tagged WHERE err = ''),
       |newds AS (
       |  SELECT bc || '_' || CAST(coalesce(m.mx, 0) + o.rk AS VARCHAR) AS code,
       |         o.bc AS sample, o.rel AS path
       |  FROM ok o LEFT JOIN seedmax m ON m.project = o.project),
       |seeds AS (
       |  SELECT c.code || '_' || CAST(n AS VARCHAR) AS code, c.code AS sample,
       |         'seed' AS path
       |  FROM cat c, (SELECT unnest([1, 2]) AS n) WHERE c.key = 0),
       |alldatasets AS (
       |  SELECT code, sample, path FROM seeds
       |  UNION ALL SELECT code, sample, path FROM newds)
       |SELECT 'dataset' AS kind, code, sample, path, CAST(0 AS BIGINT) AS n
       |FROM alldatasets
       |UNION ALL
       |SELECT 'error', err, '', rel, 0 FROM tagged WHERE err <> ''
       |UNION ALL
       |SELECT 'report', substr(sample, 1, 5), '', '',
       |       CAST(count(*) AS BIGINT)
       |FROM alldatasets GROUP BY substr(sample, 1, 5)
       |ORDER BY kind, code, path""".stripMargin
  }

  // ------------------------------------------------------- Q-copydataset
  // K9 through the gate: a source dataset tree (25 per-nation files in
  // region dirs + a manifest under meta/) is rendered from testdata,
  // copied by Sinks.copyDataset — the DISTRIBUTED shape of the
  // reference's driver-side shutil.copytree (copy-dataset/script.py:
  // 12-27): enumerate as metadata rows, copy each file executor-side in
  // mapPartitions, idempotent per-file overwrite for task retries. The
  // query then re-scans the COPY and emits (rel, length, sha256); the
  // oracle reads the copied tree itself with read_blob — so byte
  // fidelity, tree structure, and completeness of the copy are what
  // cross the hash. The 26-row collect materializing the copy is a
  // bounded fixture write (q_binary policy).
  private val CopySrcDir = s"$FixtureRoot/copyds_src"
  private val CopyDstDir = s"$FixtureRoot/copyds_dst"

  def copyDatasetQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(CopyDstDir, dir) {
      import java.nio.file.{Files => JFiles, Paths}
      Seq(CopySrcDir, CopyDstDir).foreach { d =>
        val b = Paths.get(d)
        if (JFiles.exists(b)) {
          val it = JFiles.walk(b).sorted(java.util.Comparator.reverseOrder())
          it.forEach(p => JFiles.delete(p))
        }
      }
      val base = Paths.get(CopySrcDir)
      val nations = load(s, dir, "nation")
        .select("n_name", "n_nationkey", "n_regionkey")
        .collect() // 25 rows, fixture rendering only
      nations.foreach { r =>
        val (name, key, region) = (r.getString(0), r.getInt(1), r.getInt(2))
        val d = base.resolve(s"region$region")
        JFiles.createDirectories(d)
        JFiles.write(d.resolve(s"$name.txt"), s"$key|$name".getBytes("UTF-8"))
        ()
      }
      JFiles.createDirectories(base.resolve("meta"))
      JFiles.write(base.resolve("meta/manifest.tsv"),
        nations.map(r => s"${r.getString(0)}\t${r.getInt(1)}")
          .sorted.mkString("\n").getBytes("UTF-8"))
      val res = Sinks.copyDataset(s, CopySrcDir, CopyDstDir).collect()
      require(res.length == 26 && res.forall(_.ok),
        s"copyDataset: ${res.count(!_.ok)} of ${res.length} files failed")
      ()
    }
    s.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(CopyDstDir)
      .select(
        regexp_replace(col("path"),
          ".*" + java.util.regex.Pattern.quote(CopyDstDir) + "/", "").as("rel"),
        col("length"), sha2(col("content"), 256).as("sha"))
      .orderBy("rel")
  }

  private val copyDatasetSql =
  // decode(), not CAST(content AS VARCHAR): the cast renders control
  // bytes as \xNN escape text (the manifest's tabs/newlines), which
  // would hash the escaped rendering instead of the file bytes
    s"""SELECT replace(filename, '$CopyDstDir/', '') AS rel,
       |       CAST(size AS BIGINT) AS length,
       |       sha256(decode(content)) AS sha
       |FROM read_blob('$CopyDstDir/*/*')
       |ORDER BY rel""".stripMargin

  // ------------------------------------------------------------- Q-urlnorm
  // URL-keyed dedup prep: messy URLs (random scheme/host casing, default
  // :80 port, utm/gclid tracking params, fragments) are constructed
  // per-event, canonicalized by TextFunctions.canonicalizeUrl (staged
  // RE2-portable regexps, scan-stage codegen), and counted by canonical
  // key. The oracle does NOT replay the regexps — it derives the
  // canonical form independently from the seed columns, so the whole
  // normalize pipeline is checked against ground truth, stage by stage.
  def urlNorm(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    val messy = concat(
      when(col("event_id") % 2 === 0, lit("HTTP://")).otherwise(lit("http://")),
      when(col("event_id") % 3 === 0, lit("Example")).otherwise(lit("example")),
      (col("user_id") % 5).cast("string"),
      when(col("event_id") % 3 === 0, lit(".COM:80")).otherwise(lit(".com")),
      lit("/p/"), col("event_type"),
      when(col("event_id") % 4 === 0, lit("?UTM_Source=x&id="))  // cased name
        .when(col("event_id") % 2 === 0, lit("?utm_source=x&id="))
        .otherwise(lit("?id=")),
      (col("event_id") % 100).cast("string"),
      when(col("event_id") % 5 === 0, lit("&Gclid=abc")).otherwise(lit("")),
      when(col("event_id") % 7 === 0, lit("&utm_source_id=z")) // suffixed name
        .otherwise(lit("")),
      when(col("event_id") % 4 === 0, lit("#sec")).otherwise(lit("")))
    ev.select(graft.functions.TextFunctions.canonicalizeUrl(messy).as("url"))
      .groupBy("url").agg(count(lit(1)).as("n"))
      .orderBy("url")
  }

  private val urlNormSql =
    """SELECT 'http://example' || CAST(user_id % 5 AS VARCHAR) || '.com/p/' ||
      |       event_type || '?id=' || CAST(event_id % 100 AS VARCHAR) AS url,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- Q-html
  // Web-corpus text extraction (TextFunctions.stripHtml/extractLinks):
  // each doc is rendered into a full HTML page (script/style subtrees,
  // comments, entities, cased HREF attributes, a messy outlink), then
  // stripped back to text and its outlinks canonicalized — the
  // fetch→extract stage of a crawl pipeline, render→parse gate style
  // (q_dicom/q_mail precedent). The oracle does NOT replay the strip
  // regexps: body and links are derived INDEPENDENTLY from the seed
  // columns, so a stage that ate a word, double-decoded an entity, or
  // leaked script text diverges the hash. All stages are staged
  // RE2-portable global regexps — scan-stage codegen at 100 TB, no
  // shuffle at all until the presentation sort.
  def htmlQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{stripHtml, extractLinks, canonicalizeUrl}
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><script>var x = 1 && 2; /* junk */</script>"),
      lit("<style>p { color: #000; }</style></head><body>"),
      lit("<!-- nav boilerplate --><h1>"), col("source"),
      lit(" &amp; friends</h1><p>"), col("text"),
      lit("</p><ul><li><a HREF=\"HTTP://Example.com:80/d/"),
      col("doc_id").cast("string"),
      lit("?utm_source=feed&ref=1#frag\">more</a></li>"),
      lit("<li><a href=\"https://example.org/about\">about</a></li>"),
      lit("</ul></body></html>"))
    load(s, dir, "documents")
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"), stripHtml(col("html")).as("body"),
        extractLinks(col("html")).as("links"))
      .select(col("doc_id"), col("body"),
        size(col("links")).cast("long").as("n_links"),
        array_join(transform(col("links"), canonicalizeUrl(_)), ",").as("links"))
      .orderBy("doc_id")
  }

  private val htmlSql =
    """SELECT doc_id,
      |       trim(regexp_replace(
      |         'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || source ||
      |         ' & friends ' || text || ' more about',
      |         '\s+', ' ', 'g')) AS body,
      |       CAST(2 AS BIGINT) AS n_links,
      |       'http://example.com/d/' || CAST(doc_id AS VARCHAR) ||
      |         '?ref=1,https://example.org/about' AS links
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- Q-negsample
  // Contrastive negative sampling (Featurize.negativeSamples): per
  // anchor vector, the first 3 valid of 8 sha-probed candidates from
  // the dense id space, skipping self and same-label hits (the
  // in-batch-duplicate hazard). Stable across runs and cluster sizes —
  // no rand() anywhere — and linear: anchors × attempts probe rows
  // through one equi-join. The oracle replays probe arithmetic,
  // validity, and the first-k-by-attempt-order window.
  private val NegK = 3
  private val NegAttempts = 8

  def negSampleQ(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
    // bounded driver read: ONE count row (ids are dense 0..n-1)
    val n = emb.count()
    val anchors = emb.filter(col("vec_id") % 97 === 0)
    Featurize.negativeSamples(emb.select(col("vec_id"), col("label")),
        "vec_id", "label",
        anchors.select(col("vec_id"), col("label")), n, NegK, NegAttempts)
      .select(col("anchor"), col("rk").cast("long").as("rk"),
        col("j").cast("long").as("j"), col("cand_id"),
        col("cand_label").cast("long").as("cand_label"))
      .orderBy("anchor", "rk")
  }

  private val negSampleSql =
    s"""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |an AS (SELECT vec_id, label FROM embeddings WHERE vec_id % 97 = 0),
       |probes AS (SELECT an.vec_id AS anchor, an.label AS aexcl, g.j,
       |             ${sqlSh32("concat('neg:', an.vec_id, ':', g.j)")}
       |               % (SELECT n FROM n) AS cand_id
       |           FROM an, generate_series(0, ${NegAttempts - 1}) AS g(j)),
       |valid AS (SELECT p.anchor, p.j, p.cand_id,
       |            CAST(e.label AS BIGINT) AS cand_label,
       |            row_number() OVER (PARTITION BY p.anchor
       |                               ORDER BY p.j) AS rk
       |          FROM probes p JOIN an ON p.anchor = an.vec_id
       |               JOIN embeddings e ON p.cand_id = e.vec_id
       |          WHERE p.cand_id != p.anchor AND e.label != p.aexcl)
       |SELECT anchor, CAST(rk AS BIGINT) AS rk, j, cand_id, cand_label
       |FROM valid WHERE rk <= $NegK
       |ORDER BY anchor, rk""".stripMargin

  // ------------------------------------------------------------- Q-evolve
  // Schema evolution across partition generations: month one landed
  // WITHOUT the event_type column, month two added it — the reader
  // must widen (`mergeSchema`) and treat pre-evolution rows as a
  // 'legacy' class instead of refusing the directory or silently
  // dropping the column. The standard long-lived-dataset situation at
  // 100 TB, where rewriting old partitions to the new schema is not an
  // option. Oracle replays the generation split from the source table.
  private val EvolveSplitDay = 15

  def evolveQ(s: SparkSession, dir: String): DataFrame = {
    val dest = s"$FixtureRoot/events_evolve"
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
    publishOnce(dest, dir) {
      val ev = load(s, dir, "events")
      ev.filter(day < EvolveSplitDay)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(s"$dest/g=1")
      ev.filter(day >= EvolveSplitDay)
        .select("event_id", "user_id", "value", "event_type")
        .write.mode("overwrite").parquet(s"$dest/g=2")
    }
    s.read.option("mergeSchema", "true")
      .parquet(s"$dest/g=1", s"$dest/g=2")
      .groupBy(coalesce(col("event_type"), lit("legacy")).as("etype"))
      .agg(count(lit(1)).as("n"),
        ExactAgg.moneySum(col("value"), 100).as("sum_value"))
      .orderBy("etype")
  }

  private val evolveSql =
    s"""SELECT CASE WHEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
       |            < $EvolveSplitDay THEN 'legacy' ELSE event_type END AS etype,
       |       CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("value")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------- Q-fuzzy
  // Fuzzy record linkage (Joins.fuzzyJoin1): typo'd part names matched
  // back to the clean catalog at edit distance ≤ 1 through SymSpell
  // deletion-neighborhood blocking — candidates come from variant
  // EQUALITY only (|s|+1 keys per string, a pure equi-join; no length
  // bands, no all-pairs). The typo is engine-replayable (drop the
  // character at sha-hash-chosen position). The ORACLE finds the same
  // pairs with the QUADRATIC levenshtein join — an independent
  // completeness proof of the neighborhood construction. Per typo:
  // candidate count and the best (dist, name) match.
  def fuzzyQ(s: SparkSession, dir: String): DataFrame = {
    val clean = load(s, dir, "part").select(col("p_name")).distinct()
    val pos = (shaHash32(col("p_name")) % length(col("p_name")).cast("long"))
      .cast("int") + 1
    val typos = clean.select(concat(
      col("p_name").substr(lit(1), pos - 1),
      col("p_name").substr(pos + 1, length(col("p_name")))).as("typo"))
      .distinct()
    Joins.fuzzyJoin1(typos, "typo", clean, "p_name")
      .groupBy("typo")
      .agg(count(lit(1)).as("n_cand"),
        min(struct(col("dist"), col("p_name"))).as("best"))
      .select(col("typo"), col("n_cand"),
        col("best.p_name").as("best"), col("best.dist").as("dist"))
      .orderBy("typo")
  }

  private val fuzzySql =
    s"""WITH clean AS (SELECT DISTINCT p_name FROM part),
       |typos AS (SELECT DISTINCT
       |            substr(p_name, 1, CAST(${sqlSh32("p_name")} % len(p_name)
       |              AS INT)) ||
       |            substr(p_name, CAST(${sqlSh32("p_name")} % len(p_name)
       |              AS INT) + 2) AS typo
       |          FROM clean),
       |pairs AS (SELECT typo, p_name,
       |            CAST(levenshtein(typo, p_name) AS BIGINT) AS dist
       |          FROM typos, clean
       |          WHERE levenshtein(typo, p_name) <= 1)
       |SELECT typo, n_cand, best, dist FROM (
       |  SELECT typo,
       |         CAST(count(*) OVER (PARTITION BY typo) AS BIGINT) AS n_cand,
       |         p_name AS best, dist,
       |         row_number() OVER (PARTITION BY typo
       |                            ORDER BY dist, p_name) AS rn
       |  FROM pairs)
       |WHERE rn = 1 ORDER BY typo""".stripMargin

  // --------------------------------------------------------------- Q-scd2
  // Type-2 SCD apply (Catalog.scd2Apply): where K2's upsert (q_upsert)
  // keeps only the latest row, this keeps HISTORY — a changed customer
  // segment closes its open row at the batch timestamp and opens a new
  // one. Incoming derives deterministically from customer (%7 segment
  // rewrites, %97 re-keyed inserts); the oracle rebuilds the result as
  // explicit case unions with DIRECT column comparison, so the
  // fingerprint shortcut is independently checked. One full-outer join
  // of open rows vs incoming (both key-shuffled once) + verbatim union
  // of closed history.
  private val Scd2Ts = 200L

  def scd2Q(s: SparkSession, dir: String): DataFrame = {
    val cents = round(col("c_acctbal") * 100).cast("long")
    val hist = load(s, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
        cents.as("bal"), lit(0L).as("valid_from"),
        lit(null).cast("long").as("valid_to"))
    val incoming = load(s, dir, "customer")
      .select(col("c_custkey").as("k"),
        when(col("c_custkey") % 7 === 0, lit("SEG_NEW"))
          .otherwise(col("c_mktsegment")).as("seg"), cents.as("bal"))
      .unionByName(load(s, dir, "customer")
        .filter(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 1000000L).as("k"),
          col("c_mktsegment").as("seg"), cents.as("bal")))
    Catalog.scd2Apply(hist, incoming, Seq("k"), Scd2Ts)
      .orderBy("k", "valid_from")
  }

  private val scd2Sql =
    s"""WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS seg,
       |              CAST(round(c_acctbal * 100) AS BIGINT) AS bal
       |             FROM customer),
       |inc AS (SELECT c_custkey AS k,
       |          CASE WHEN c_custkey % 7 = 0 THEN 'SEG_NEW'
       |               ELSE c_mktsegment END AS seg,
       |          CAST(round(c_acctbal * 100) AS BIGINT) AS bal
       |        FROM customer
       |        UNION ALL
       |        SELECT c_custkey + 1000000, c_mktsegment,
       |               CAST(round(c_acctbal * 100) AS BIGINT)
       |        FROM customer WHERE c_custkey % 97 = 0),
       |j AS (SELECT cur.k AS ck, cur.seg AS cseg, cur.bal AS cbal,
       |             inc.k AS ik, inc.seg AS iseg, inc.bal AS ibal
       |      FROM cur FULL JOIN inc ON cur.k = inc.k)
       |SELECT coalesce(ck, ik) AS k, cseg AS seg, cbal AS bal,
       |       CAST(0 AS BIGINT) AS valid_from,
       |       CASE WHEN ik IS NOT NULL
       |             AND (cseg IS DISTINCT FROM iseg
       |                  OR cbal IS DISTINCT FROM ibal)
       |            THEN CAST($Scd2Ts AS BIGINT) END AS valid_to
       |FROM j WHERE ck IS NOT NULL
       |UNION ALL
       |SELECT ik, iseg, ibal, CAST($Scd2Ts AS BIGINT), CAST(NULL AS BIGINT)
       |FROM j WHERE ik IS NOT NULL
       |  AND (ck IS NULL OR cseg IS DISTINCT FROM iseg
       |       OR cbal IS DISTINCT FROM ibal)
       |ORDER BY k, valid_from""".stripMargin

  // ------------------------------------------------------------ Q-gapfill
  // Dense-grid time-series repair (TimeSeries.fillForward): daily
  // per-type event aggregates with HOLES become a dense 30-day grid —
  // counts fill 0, the daily money sum carries forward (null until the
  // first observation). The grid explodes the period range onto the key
  // dimension (no cross-join node); the carry-forward is one bounded
  // window per key. The report-facing step that keeps diffs and moving
  // averages from silently mis-computing over sparse days.
  private val GapDays = 29L // days 0..29 of the events month

  def gapFillQ(s: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    val agg = load(s, dir, "events")
      .groupBy(col("event_type"), day.as("d"))
      .agg(count(lit(1)).as("n"), ExactAgg.moneySum(col("value"), 100).as("v"))
    TimeSeries.fillForward(agg, "event_type", "d", "n", "v", 0L, GapDays)
      .orderBy("event_type", "d")
  }

  private val gapFillSql =
    s"""WITH ev AS (SELECT event_type,
       |              date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
       |              value
       |            FROM events),
       |agg AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS n,
       |               ${moneySumSql("value")} AS v
       |        FROM ev GROUP BY 1, 2),
       |keys AS (SELECT DISTINCT event_type FROM agg),
       |grid AS (SELECT event_type, g.d
       |         FROM keys, generate_series(0, $GapDays) AS g(d)),
       |j AS (SELECT grid.event_type, grid.d, coalesce(agg.n, 0) AS n, agg.v
       |      FROM grid LEFT JOIN agg USING (event_type, d))
       |SELECT event_type, d, n,
       |       last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
       |         ORDER BY d ROWS UNBOUNDED PRECEDING) AS v
       |FROM j ORDER BY event_type, d""".stripMargin

  // ---------------------------------------------------------------- Q-orc
  // ORC source/sink roundtrip (S-family format breadth next to
  // parquet/TSV/JSON/JDBC/binary): supplier publishes as ORC (with its
  // own predicate-pushdown/column-pruning stack), reads back, and joins
  // the parquet nation dim — the oracle replays from the ORIGINAL
  // parquet, so any value the ORC path mangles diverges the hash.
  def orcQ(s: SparkSession, dir: String): DataFrame = {
    val dest = s"$FixtureRoot/supplier_orc"
    publishOnce(dest, dir) {
      load(s, dir, "supplier").write.mode("overwrite").orc(dest)
    }
    s.read.orc(dest)
      .join(broadcast(load(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n"),
        ExactAgg.moneySum(col("s_acctbal"), 100).as("sum_bal"))
      .orderBy("nation")
  }

  private val orcSql =
    s"""SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("s_acctbal")} AS sum_bal
       |FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- Q-pmi
  // Windowed co-occurrence with rational PMI ranking (Featurize
  // .pmiPairs): the count-based collocation statistic (Church & Hanks
  // 1990) — pairs generated IN-ROW (slice against the next 5 neighbors,
  // no token-stream self-join), score = c_ab·N·10⁴ div (c_a·c_b), exact
  // BIGINT with the same order as real PMI. Top-50 by (pmi4 desc, a, b).
  private val PmiWindow = 5
  private val PmiMinCount = 5L
  private val PmiTop = 50

  def pmiQ(s: SparkSession, dir: String): DataFrame = {
    val tk = load(s, dir, "documents").select(tokens(col("text")).as("tk"))
    // bounded driver read: ONE aggregate row (q_bm25's stats pattern)
    val n = tk.agg(sum(size(col("tk")))).head().getLong(0)
    Featurize.pmiPairs(tk, col("tk"), PmiWindow, PmiMinCount, n)
      .orderBy(col("pmi4").desc, col("a"), col("b")).limit(PmiTop)
  }

  private val pmiSql =
    s"""WITH t AS (SELECT $SqlToks AS tk FROM documents),
       |p0 AS (SELECT flatten(list_transform(generate_series(1, len(tk)),
       |         i -> list_transform(tk[i+1:i+$PmiWindow], x ->
       |           struct_pack(a := least(tk[i], x),
       |                       b := greatest(tk[i], x))))) AS ps
       |       FROM t),
       |p AS (SELECT u.a AS a, u.b AS b
       |      FROM (SELECT unnest(ps) AS u FROM p0)),
       |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
       |        FROM p GROUP BY a, b HAVING count(*) >= $PmiMinCount),
       |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
       |        FROM (SELECT unnest(tk) AS tok FROM t) GROUP BY tok),
       |n AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n FROM t)
       |SELECT cab.a, cab.b, c_ab, ua.c AS c_a, ub.c AS c_b,
       |       c_ab * n.n * 10000 // (ua.c * ub.c) AS pmi4
       |FROM cab JOIN uni ua ON cab.a = ua.tok
       |         JOIN uni ub ON cab.b = ub.tok, n
       |ORDER BY pmi4 DESC, cab.a, cab.b LIMIT $PmiTop""".stripMargin

  // ---------------------------------------------------------- Q-triangles
  // Degree-oriented triangle counting (Graph.triangleCounts) over the
  // co-order part graph: parts are adjacent when ≥ MinSupport orders
  // contain both (the market-basket support cut that keeps template
  // pairs from densifying the graph). The ENGINE orients every edge
  // from its lower-(degree, id) endpoint — wedge volume O(m^1.5) on any
  // degree sequence, the 10⁹-edge survival property — while the ORACLE
  // counts the same triangles with the naive id-ordered 3-way join: two
  // plans, one truth, so the orientation logic itself is hash-gated.
  private val TriMinSupport = 2L

  def trianglesQ(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
    val a = li.as("a")
    val b = li.as("b")
    val edges = a.join(b,
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("x"), col("b.l_partkey").as("y"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= TriMinSupport)
      .select("x", "y")
    Graph.triangleCounts(edges)
      .orderBy(col("n_tri").desc, col("node"))
  }

  private val trianglesSql =
    s"""WITH e0 AS (SELECT a.l_partkey AS x, b.l_partkey AS y,
       |              CAST(count(*) AS BIGINT) AS c
       |            FROM lineitem a JOIN lineitem b
       |              ON a.l_orderkey = b.l_orderkey
       |             AND a.l_partkey < b.l_partkey
       |            GROUP BY 1, 2),
       |e AS (SELECT x, y FROM e0 WHERE c >= $TriMinSupport),
       |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
       |        FROM e e1 JOIN e e2 ON e1.y = e2.x
       |             JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y)
       |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
       |FROM (SELECT unnest([a, b, c]) AS node FROM tri)
       |GROUP BY node ORDER BY n_tri DESC, node""".stripMargin

  // ---------------------------------------------------------- Q-labelprop
  // Synchronous label propagation (Graph.labelPropagation) over the
  // bipartite customer–part co-purchase graph: communities emerge from
  // shared purchasing, with the deterministic most-frequent-neighbor /
  // min-label update making a FIXED iteration count hash-gateable. The
  // edge list is linear in lineitem (distinct (cust, part) pairs — no
  // pair self-join anywhere), each round is one O(edges) join + one
  // partial-aggregated vote count. The oracle unrolls the same three
  // synchronous rounds as CTEs with a row_number argmax — window-rank
  // vs struct-argmin, two formulations of one update rule.
  private val LpIters = 3

  /** Distinct bipartite co-purchase edges ("c:<cust>", "p:<part>").
    * Dedup happens on the NUMERIC key pair (16-byte shuffle rows), the
    * string node ids are minted after — the exchange never carries the
    * decorated strings. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(load(s, dir, "lineitem").select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
      .distinct()
      .select(concat(lit("c:"), col("ck")).as("a"),
        concat(lit("p:"), col("pk")).as("b"))

  private val coPurchaseEdgesSql =
    """e AS (SELECT DISTINCT 'c:' || o_custkey AS a, 'p:' || l_partkey AS b
      |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |adj AS (SELECT a AS node, b AS nbr FROM e
      |        UNION SELECT b AS node, a AS nbr FROM e)""".stripMargin

  /** Order-isomorphic long encode of the decorated node ids (r18; guide
    * §2.3 narrower types — the last string-keyed iterative cell). The
    * label-prop tie-break is min over label STRING order, so a plain
    * bijection is not enough: the encode must preserve the lexicographic
    * order of "c:<key>" / "p:<key>" exactly.
    *
    *   enc(kind, key) = [kind=p]·2⁶² + toLong(rpad(str(key), 17, '0'))·32
    *                    + length(str(key))
    *
    * Order proof: (1) every "c:…" < every "p:…" ⇔ the 2⁶² bit; (2) for
    * same-kind keys, zero-right-padding to a fixed width makes the
    * numeric comparison decide at the first differing digit — exactly
    * where the lexicographic comparison decides; (3) the only padded
    * ties are zero-extension prefixes ("1" vs "10"), where the shorter
    * string is lexicographically smaller — settled by the +length term
    * (length ≤ 17 < 32, so it never carries into the padded field).
    * Range: padded < 10¹⁷, so code < 10¹⁷·32 + 17 < 2⁶² — no overflow,
    * and keys are non-negative with ≤ 17 digits. A longer key would be
    * truncated by the rpad and silently merge with another, so it fails
    * the query instead (LabelEncodeSpec property-checks the isomorphism
    * and the refusal). Bijectivity ⇒ identical vote counts; order
    * isomorphism ⇒ identical tie-breaks ⇒ identical labels, decoded
    * only on the final output. */
  private[graft] val LpPBit = 1L << 62
  private[graft] def lpEncode(key: Column, isPart: Boolean): Column = {
    val str = key.cast("string")
    val padded = when(length(str) > 17, raise_error(
        concat(lit("lpEncode: key longer than 17 digits: "), str)))
      .otherwise(rpad(str, 17, "0").cast("long"))
    val code = padded * 32 + length(str)
    if (isPart) code + lit(LpPBit) else code
  }
  private[graft] def lpDecode(code: Column): Column = {
    val isP = code >= lit(LpPBit)
    val base = when(isP, code - lit(LpPBit)).otherwise(code)
    // ·32 = <<5, so the padded field is shiftright(5) and the length is
    // the low 5 bits — exact long arithmetic, no doubles anywhere
    val digits = lpad(shiftright(base, 5).cast("string"), 17, "0")
    val len = base.bitwiseAND(lit(31L)).cast("int")
    concat(when(isP, lit("p:")).otherwise(lit("c:")),
      digits.substr(lit(1), len))
  }

  def labelPropQ(s: SparkSession, dir: String): DataFrame = {
    // distinct co-purchase edges on the NUMERIC pair, then the order-
    // preserving long encode — per-round exchanges carry 8-byte keys;
    // the "c:"/"p:" strings are minted only on the final 53 communities
    val edges = load(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(load(s, dir, "lineitem").select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
      .distinct()
      .select(lpEncode(col("ck"), isPart = false).as("a"),
        lpEncode(col("pk"), isPart = true).as("b"))
    Graph.labelPropagation(edges, "a", "b", LpIters)
      .groupBy(lpDecode(col("lbl")).as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
  }

  private val labelPropSql = {
    val rounds = (1 to LpIters).map { i =>
      s"""v$i AS (SELECT a.node, l.lbl, CAST(count(*) AS BIGINT) AS c
         |        FROM adj a JOIN l${i - 1} l ON a.nbr = l.node GROUP BY 1, 2),
         |b$i AS (SELECT node, lbl FROM (SELECT node, lbl, row_number()
         |          OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM v$i)
         |        WHERE rn = 1),
         |l$i AS (SELECT n.node, coalesce(b.lbl, n.lbl) AS lbl
         |        FROM l${i - 1} n LEFT JOIN b$i b USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH $coPurchaseEdgesSql,
       |l0 AS (SELECT DISTINCT node, node AS lbl FROM adj),
       |$rounds
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
       |FROM l$LpIters GROUP BY 1 ORDER BY n_members DESC, community""".stripMargin
  }

  // ---------------------------------------------------------------- Q-bfs
  // Multi-source BFS layering (Graph.bfsDistance): hop distance from
  // one nation's customers over the same co-purchase graph — the
  // "blast radius" / reachability query (contaminated-source spread,
  // crawl frontier depth). Fixed maxHops, min-hop semantics; each hop
  // is one equi-join + distinct + anti-join against settled nodes, so
  // no hop re-touches what an earlier hop labelled. The oracle unrolls
  // the same frontier expansion with NOT EXISTS anti-joins.
  private val BfsHops = 3
  private val BfsSeedNation = "NATION_7"

  def bfsQ(s: SparkSession, dir: String): DataFrame = {
    // r17: frontier expansion runs on LONG-encoded ids (customer → 2k,
    // part → 2k+1); BFS layering is pure set algebra (join / distinct /
    // anti-join), so a bijective recode cannot change any hop set, and
    // the "c:"/"p:" strings are minted only on the final output — every
    // per-hop exchange carries 8-byte keys (guide §2.3).
    val seeds = load(s, dir, "customer")
      .join(broadcast(load(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === BfsSeedNation)
      .select((col("c_custkey").cast("long") * 2).as("node"))
    val edges = load(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(load(s, dir, "lineitem").select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("a"),
        (col("l_partkey").cast("long") * 2 + 1).as("b"))
      .distinct()
    Graph.bfsDistance(edges, "a", "b", seeds, BfsHops)
      .select(
        concat(when(col("node") % 2 === 0, "c:").otherwise("p:"),
          expr("node div 2").cast("string")).as("node"),
        col("d"))
      .orderBy("d", "node")
  }

  private val bfsSql = {
    val hops = (1 to BfsHops).map { h =>
      s"""f$h AS (SELECT DISTINCT a.node FROM adj a
         |        JOIN d${h - 1} p ON a.nbr = p.node
         |        WHERE NOT EXISTS (SELECT 1 FROM d${h - 1} x
         |                          WHERE x.node = a.node)),
         |d$h AS (SELECT node, d FROM d${h - 1}
         |        UNION ALL SELECT node, CAST($h AS BIGINT) AS d FROM f$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coPurchaseEdgesSql,
       |s AS (SELECT DISTINCT 'c:' || c_custkey AS node
       |      FROM customer JOIN nation ON c_nationkey = n_nationkey
       |      WHERE n_name = '$BfsSeedNation'),
       |d0 AS (SELECT node, CAST(0 AS BIGINT) AS d FROM s),
       |$hops
       |SELECT node, d FROM d$BfsHops ORDER BY d, node""".stripMargin
  }

  // ---------------------------------------------------------------- Q-hll
  // HyperLogLog REGISTERS as the gate row (Sketches.hllRegisters): the
  // mergeable core of the distinct-count sketch — per (event_type,
  // bucket) max-rho over sha-derived hashes, ≤ 2^b rows per group no
  // matter the corpus — is integer-exact and engine-portable, so the
  // sketch itself crosses the hash gate; the float read-out
  // (hllEstimate, with linear-counting correction) is the deployable
  // twin pinned by SketchesSpec against exact distincts. rho's
  // floor(log2) is a bin()-string LENGTH on both engines — no float
  // log anywhere near the gate.
  private val HllB = 6 // 2^6 = 64 buckets

  def hllQ(s: SparkSession, dir: String): DataFrame =
    Sketches.hllRegisters(load(s, dir, "events"), "event_type", "user_id", HllB)
      .orderBy("event_type", "bucket")

  private val hllSql = {
    val m = 1 << HllB
    val w = 32 - HllB
    s"""WITH h AS (SELECT event_type,
       |             ${sqlSh32("'hll:' || user_id")} AS h
       |           FROM events WHERE user_id IS NOT NULL),
       |p AS (SELECT event_type, h % $m AS bucket, h // $m AS rest FROM h),
       |r AS (SELECT event_type, bucket,
       |             CASE WHEN rest = 0 THEN CAST(${w + 1} AS BIGINT)
       |                  ELSE $w - (length(bin(rest)) - 1) END AS r
       |      FROM p)
       |SELECT event_type, bucket, max(r) AS r
       |FROM r GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin
  }

  // ------------------------------------------------------------ Q-rolling
  // Rolling 7-day distinct actives (Behavior.rollingActives): the
  // engine turns each user's activity days into INCREMENTAL covered
  // intervals via one lag (union of per-activity windows without
  // double counting) and explodes ≤7 days each — O(activity + days)
  // shuffle, no (user × window-day) pair stream, no count(DISTINCT)
  // over a grid join. The ORACLE is the naive day-grid range join with
  // count(DISTINCT) — two plans, one truth, so the interval-union
  // logic itself is hash-gated. Day bounds come from one bounded agg
  // row (q_pmi's driver-read pattern).
  private val RollWindow = 7

  /** Day index of an event timestamp (shared with q_gapfill). */
  private def evDay: Column =
    datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long")

  def rollingQ(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    val b = ev.agg(min(evDay).as("lo"), max(evDay).as("hi")).head()
    Behavior.rollingActives(ev, "user_id", evDay, RollWindow,
      b.getLong(0), b.getLong(1)).orderBy("d")
  }

  private val rollingSql =
    s"""WITH ud AS (SELECT DISTINCT user_id AS u,
       |              date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
       |            FROM events),
       |g AS (SELECT unnest(generate_series((SELECT min(day) FROM ud),
       |                                    (SELECT max(day) FROM ud))) AS d)
       |SELECT g.d, CAST(count(DISTINCT ud.u) AS BIGINT) AS n_active
       |FROM g JOIN ud ON ud.day BETWEEN g.d - ${RollWindow - 1} AND g.d
       |GROUP BY g.d ORDER BY g.d""".stripMargin

  // ------------------------------------------------------------ Q-anomaly
  // Integer-exact z-score anomaly flags (Stats.zOutliers) over the
  // daily event-count series per type: a day is anomalous iff its
  // count deviates from the type's mean by more than z·σ, stated as
  // (n·x − s)²·zDen² > zNum²·(n·q − s²) in pure BIGINT — the
  // monitoring query where float σ would disagree across engines
  // exactly on threshold cells. One window shuffle by type.
  private val AnomZNum = 2L
  private val AnomZDen = 1L

  def anomalyQ(s: SparkSession, dir: String): DataFrame =
    Stats.zOutliers(
      load(s, dir, "events")
        .groupBy(col("event_type"), evDay.as("d"))
        .agg(count(lit(1)).as("n_events")),
      "event_type", "n_events", AnomZNum, AnomZDen)
      .orderBy("event_type", "d")

  private val anomalySql =
    s"""WITH c AS (SELECT event_type,
       |             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
       |             CAST(count(*) AS BIGINT) AS n_events
       |           FROM events GROUP BY 1, 2),
       |s AS (SELECT event_type, d, n_events,
       |             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |             CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT) AS sm,
       |             CAST(sum(n_events * n_events) OVER (PARTITION BY event_type) AS BIGINT) AS q
       |      FROM c)
       |SELECT event_type, d, n_events,
       |       (n * n_events - sm) * (n * n_events - sm) * ${AnomZDen * AnomZDen}
       |         > ${AnomZNum * AnomZNum} * (n * q - sm * sm) AS is_anomaly
       |FROM s ORDER BY event_type, d""".stripMargin

  // ------------------------------------------------------------ Q-skyline
  // 2-D Pareto frontier (Stats.skyline2d): the parts no other part
  // beats on (price down, size up) — the classic dominance query whose
  // textbook NOT-EXISTS plan is O(n²). The ENGINE runs grid-prefilter
  // (per-bucket max size, running max over strictly-cheaper buckets,
  // broadcast back — dominated points die in the scan stage) + one
  // window over the small survivor set; the ORACLE states the
  // quadratic NOT EXISTS — two plans, one truth, so the prefilter's
  // no-skyline-point-lost induction is itself hash-gated.
  private val SkyStep = 10000L // price-cents grid stride

  def skylineQ(s: SparkSession, dir: String): DataFrame =
    Stats.skyline2d(
      load(s, dir, "part")
        .select(col("p_partkey"),
          expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_c"),
          col("p_size").cast("long").as("size")),
      "price_c", "size", SkyStep)
      .select("p_partkey", "price_c", "size")
      .orderBy("price_c", "p_partkey")

  private val skylineSql =
    """WITH p AS (SELECT p_partkey,
      |             CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
      |             CAST(p_size AS BIGINT) AS size
      |           FROM part)
      |SELECT p_partkey, price_c, size FROM p a
      |WHERE NOT EXISTS (SELECT 1 FROM p b
      |                  WHERE b.price_c <= a.price_c AND b.size >= a.size
      |                    AND (b.price_c < a.price_c OR b.size > a.size))
      |ORDER BY price_c, p_partkey""".stripMargin

  // ---------------------------------------------------------- Q-intervals
  // Gaps-and-islands interval merge (TimeSeries.mergeIntervals): each
  // order opens a 30-day coverage window; overlapping/touching windows
  // per customer collapse into maximal episodes (closed-interval
  // semantics) — validity-range compaction / activity-episode logic.
  // One shuffle by customer feeds both window passes and the fold; the
  // oracle replays the running-max island construction with SQL
  // windows and the gate compares the per-customer episode profile.
  private val IvWindowDays = 30

  def intervalsQ(s: SparkSession, dir: String): DataFrame = {
    val iv = load(s, dir, "orders")
      .select(col("o_custkey").as("custkey"),
        datediff(col("o_orderdate").cast("date"),
          lit("2024-01-01").cast("date")).cast("long").as("s"))
      .withColumn("e", col("s") + IvWindowDays)
    TimeSeries.mergeIntervals(iv, "custkey", "s", "e")
      .groupBy("custkey")
      .agg(count(lit(1)).as("n_episodes"),
        sum(col("end") - col("start") + 1).as("covered_days"))
      .orderBy("custkey")
  }

  private val intervalsSql =
    s"""WITH iv AS (SELECT o_custkey AS c,
       |              date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS s
       |            FROM orders),
       |i2 AS (SELECT c, s, s + $IvWindowDays AS e FROM iv),
       |m AS (SELECT c, s, e, max(e) OVER (PARTITION BY c ORDER BY s, e
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM i2),
       |f AS (SELECT c, s, e,
       |        CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw FROM m),
       |isl AS (SELECT c, s, e, sum(nw) OVER (PARTITION BY c ORDER BY s, e
       |          ROWS UNBOUNDED PRECEDING) AS ep FROM f),
       |ep AS (SELECT c, ep AS episode, min(s) AS st, max(e) AS en
       |       FROM isl GROUP BY 1, 2)
       |SELECT c AS custkey, CAST(count(*) AS BIGINT) AS n_episodes,
       |       CAST(sum(en - st + 1) AS BIGINT) AS covered_days
       |FROM ep GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- Q-churn
  // Period-over-period churn/new/retained classification: users active
  // in the first half of the month vs the second, counted per
  // transition class — churned (A only), new (B only), retained
  // (both). One distinct per (user, half) + a full-outer set match per
  // user (the q_diff fingerprint shape on membership), then a tiny
  // class fold; at 100 TB both period scans prune on the date
  // predicate and the per-user frame is two booleans.
  private val ChurnSplitDay = 15L

  def churnQ(s: SparkSession, dir: String): DataFrame = {
    val m = load(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        (evDay < ChurnSplitDay).as("inA"))
      .groupBy("user_id", "event_type")
      .agg(max(when(col("inA"), 1L).otherwise(0L)).as("a"),
        max(when(!col("inA"), 1L).otherwise(0L)).as("b"))
    m.select(col("event_type"),
        when(col("a") === 1 && col("b") === 1, "retained")
          .when(col("a") === 1, "churned")
          .otherwise("new").as("class"))
      .groupBy("event_type", "class").agg(count(lit(1)).as("n_users"))
      .orderBy("event_type", "class")
  }

  private val churnSql =
    s"""WITH m AS (SELECT user_id, event_type,
       |             max(CASE WHEN date_diff('day', DATE '2024-01-01',
       |                   CAST(ts AS DATE)) < $ChurnSplitDay
       |                 THEN 1 ELSE 0 END) AS a,
       |             max(CASE WHEN date_diff('day', DATE '2024-01-01',
       |                   CAST(ts AS DATE)) >= $ChurnSplitDay
       |                 THEN 1 ELSE 0 END) AS b
       |           FROM events GROUP BY 1, 2)
       |SELECT event_type,
       |       CASE WHEN a = 1 AND b = 1 THEN 'retained'
       |            WHEN a = 1 THEN 'churned' ELSE 'new' END AS class,
       |       CAST(count(*) AS BIGINT) AS n_users
       |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------- Q-audio
  // Overlapping audio analysis windows (Multimodal.audioWindows): the
  // STFT/VAD batching grid — 4 s windows every 2.5 s, last window
  // clipped to the duration — generated in-row next to the payload
  // (no join, no shuffle; the modality trio's third leg next to image
  // metadata and video frames). Duration derives from the payload hash
  // (fakeDecode pattern); oracle replays the grid with
  // generate_series + least().
  private val AudioWinMs = 4000L
  private val AudioStrideMs = 2500L

  def audioQ(s: SparkSession, dir: String): DataFrame = {
    val dur = (shaHash32(col("text")) % 30000L + 500L).as("duration_ms")
    Multimodal.audioWindows(
        load(s, dir, "documents").select(col("doc_id"), dur),
        col("duration_ms"), AudioWinMs, AudioStrideMs)
      .select("doc_id", "duration_ms", "win_idx", "start_ms", "end_ms")
      .orderBy("doc_id", "win_idx")
  }

  private val audioSql =
    s"""WITH d AS (SELECT doc_id,
       |             ${sqlSh32("text")} % 30000 + 500 AS duration_ms
       |           FROM documents),
       |w AS (SELECT doc_id, duration_ms,
       |             unnest(generate_series(0, (duration_ms - 1) // $AudioStrideMs))
       |               AS win_idx
       |      FROM d)
       |SELECT doc_id, duration_ms, win_idx,
       |       win_idx * $AudioStrideMs AS start_ms,
       |       least(win_idx * $AudioStrideMs + $AudioWinMs, duration_ms) AS end_ms
       |FROM w ORDER BY doc_id, win_idx""".stripMargin

  // ---------------------------------------------------------- Q-features
  // Per-key lag/rolling feature engineering — the tabular-ML feature
  // frame a training pipeline derives from an event log: per (user,
  // active-day) the day's count, the previous active day's count, the
  // recency gap, and the trailing-7-day RANGE-frame sum (calendar
  // window, not row window — sparse days must not collapse the
  // horizon). ONE shuffle by user feeds every window; all features are
  // integer-exact.
  def featuresQ(s: SparkSession, dir: String): DataFrame = {
    val daily = load(s, dir, "events")
      .groupBy(col("user_id"), evDay.as("d"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("d")
    val w7 = w.rangeBetween(-6, 0)
    daily
      .withColumn("n_prev", lag(col("n"), 1).over(w))
      .withColumn("gap_days", col("d") - lag(col("d"), 1).over(w))
      .withColumn("n_7d", sum(col("n")).over(w7))
      .orderBy("user_id", "d")
  }

  private val featuresSql =
    """WITH daily AS (SELECT user_id,
      |                date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
      |                CAST(count(*) AS BIGINT) AS n
      |              FROM events GROUP BY 1, 2)
      |SELECT user_id, d, n,
      |       lag(n) OVER w AS n_prev,
      |       d - lag(d) OVER w AS gap_days,
      |       CAST(sum(n) OVER (PARTITION BY user_id ORDER BY d
      |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
      |FROM daily
      |WINDOW w AS (PARTITION BY user_id ORDER BY d)
      |ORDER BY user_id, d""".stripMargin

  // ----------------------------------------------------------- Q-overlap
  // Exact audience overlap via bitmap indexes (Sketches.segmentBitmaps
  // + segmentOverlap): per-type membership as 63-bit words (bit_or
  // build, map-side-combined and ~n/63 the size of the id list), pair
  // intersections as Σ bit_count(a & b) over SHARED words — a words
  // equi-join whose per-pair cost is the shared-word count, never
  // |A|·|B|. The ORACLE computes the same overlaps with the naive
  // distinct-membership self-join — two plans, one truth, so the bit
  // arithmetic itself is hash-gated.
  def overlapQ(s: SparkSession, dir: String): DataFrame =
    Sketches.segmentOverlap(
        Sketches.segmentBitmaps(load(s, dir, "events"), "event_type", "user_id"))
      .orderBy("seg_a", "seg_b")

  private val overlapSql =
    """WITH m AS (SELECT DISTINCT event_type, user_id FROM events
      |           WHERE user_id IS NOT NULL AND user_id >= 0)
      |SELECT a.event_type AS seg_a, b.event_type AS seg_b,
      |       CAST(count(*) AS BIGINT) AS n_common
      |FROM m a JOIN m b ON a.user_id = b.user_id
      |  AND a.event_type < b.event_type
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------- Q-diversity
  // Behavioral diversity per user: Simpson/Gini index of the user's
  // event-type distribution, stated integer-exact — 1 − Σ(cᵢ/n)²
  // becomes (n² − Σcᵢ²)·10⁴ div n², so threshold users land identically
  // on every engine. Two natural-key partial-agg shuffles; the
  // engagement-breadth feature of a user-modeling pipeline.
  def diversityQ(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("q"))
      .select(col("user_id"), col("n"),
        expr("(n * n - q) * 10000 div (n * n)").as("simpson4"))
      .orderBy("user_id")

  private val diversitySql =
    """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
      |           FROM events GROUP BY 1, 2),
      |a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
      |             CAST(sum(c * c) AS BIGINT) AS q
      |      FROM c GROUP BY 1)
      |SELECT user_id, n, (n * n - q) * 10000 // (n * n) AS simpson4
      |FROM a ORDER BY user_id""".stripMargin

  // --------------------------------------------------------- Q-skewstats
  // Join-key skew profile — the diagnostic that decides between a plain
  // shuffle join, Skew.saltedJoin, and AQE skew splitting: per join-key
  // frequency distribution summarized as max/p50/p99 (exact rank
  // arithmetic) plus the top heavy keys' share of the table. One
  // partial-agg count + one |keys|-row quantile pass — runs BEFORE the
  // expensive join, on the cheap side of it.
  def skewStatsQ(s: SparkSession, dir: String): DataFrame = {
    val freq = load(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("key")).agg(count(lit(1)).as("c"))
    // rank once, then EVERYTHING folds in one aggregation — no one-row
    // combine joins (the optimizer constant-folds literal-key joins
    // into nested loops, which the plan audit rightly rejects). The
    // global windows run over |keys| rows, not the table. Top-5 = the
    // last 5 ranks of the ascending order; rank ties share c values,
    // so every output is tie-order-independent.
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy("c")
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val ranked = freq
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("nk", count(lit(1)).over(wAll))
    ranked.agg(
        count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(col("c")).as("max_c"),
        max(when(col("rn") === ceil(col("nk") * 0.5), col("c"))).as("p50"),
        max(when(col("rn") === ceil(col("nk") * 0.99), col("c"))).as("p99"),
        sum(when(col("rn") > col("nk") - 5, col("c"))).as("top5_rows"))
      .select(col("n_keys"), col("n_rows"), col("max_c"),
        col("p50"), col("p99"),
        expr("top5_rows * 10000 div n_rows").as("top5_share4"))
  }

  private val skewStatsSql =
    """WITH f AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS c
      |           FROM lineitem GROUP BY 1),
      |r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn,
      |             CAST(count(*) OVER () AS BIGINT) AS n
      |      FROM f),
      |q AS (SELECT max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN c END) AS p50,
      |             max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN c END) AS p99
      |      FROM r),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |             CAST(sum(c) AS BIGINT) AS n_rows,
      |             max(c) AS max_c FROM f),
      |h AS (SELECT CAST(sum(c) AS BIGINT) AS top5_rows
      |      FROM (SELECT c FROM f ORDER BY c DESC, key LIMIT 5))
      |SELECT s.n_keys, s.n_rows, s.max_c, q.p50, q.p99,
      |       h.top5_rows * 10000 // s.n_rows AS top5_share4
      |FROM s, q, h""".stripMargin

  // -------------------------------------------------------------- Q-topk
  // Per-key top-k through the WHOLE-OPERATOR Catalyst surface
  // (plans/TopKPerKey): the query is written in the standard
  // declarative form — row_number() OVER (...) <= k — and
  // RewriteTopKWindow swaps the sort-based Window plan for the
  // heap-based TopKPerKeyExec (O(n log k) comparisons, keys·k retained
  // rows, no partition-wide sort to spill). The ORACLE executes the
  // SAME declarative form on DuckDB's stock window machinery — two
  // execution engines, two physical strategies, one truth — and
  // PlanAuditSpec asserts the custom node is actually in the declared
  // plan. Ordering key is exact cents (never raw doubles) with the
  // custkey tie-break, the usual determinism discipline.
  private val TopK = 3

  def topkQ(s: SparkSession, dir: String): DataFrame = {
    val cents = load(s, dir, "customer")
      .select(col("c_mktsegment").as("seg"), col("c_custkey"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seg").orderBy(col("bal_c").desc, col("c_custkey"))
    cents.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .orderBy("seg", "rn")
  }

  private val topkSql =
    s"""SELECT seg, c_custkey, bal_c, rn FROM (
       |  SELECT c_mktsegment AS seg, c_custkey,
       |         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
       |         CAST(row_number() OVER (PARTITION BY c_mktsegment
       |           ORDER BY round(c_acctbal * 100) DESC, c_custkey) AS INT) AS rn
       |  FROM customer)
       |WHERE rn <= $TopK ORDER BY seg, rn""".stripMargin

  // --------------------------------------------------------------- Q-ivm
  // Incremental view maintenance: a materialized per-type aggregate
  // (count + money sum — MERGEABLE partial states) is published once
  // from the base slice, and each delta batch folds in by re-aggregating
  // base ∪ delta PARTIALS — never rescanning base detail rows. The
  // incremental-pipeline primitive: at 100 TB the view refresh touches
  // O(delta + |view|), not O(history). The oracle recomputes from the
  // FULL detail table, so the merge law (sum of sums, sum of counts)
  // itself is hash-gated.
  private val IvmSplitDay = 20L
  private val IvmBaseDir = s"$FixtureRoot/ivm_base_agg"

  def ivmQ(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    def partialAgg(df: DataFrame) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("sum_c"))
    publishOnce(IvmBaseDir, dir) {
      partialAgg(ev.filter(evDay < IvmSplitDay))
        .write.mode("overwrite").parquet(IvmBaseDir)
    }
    val delta = partialAgg(ev.filter(evDay >= IvmSplitDay))
    s.read.parquet(IvmBaseDir).unionByName(delta)
      .groupBy("event_type")
      .agg(sum(col("n")).as("n"),
        (sum(col("sum_c")) / 100.0).as("sum_value"))
      .orderBy("event_type")
  }

  private val ivmSql =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("value")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- Q-winsor
  // Winsorized robust means: per-type value distribution clipped at the
  // EXACT p5/p95 order statistics (Stats.exactQuantiles — rank
  // arithmetic, one exchange), then an exact rational mean over the
  // clipped cents (sum·10⁴ div n — no float accumulation). The
  // outlier-robust feature-scaling step; quantile frame is |types|
  // rows and broadcasts back onto the scan.
  def winsorQ(s: SparkSession, dir: String): DataFrame = {
    val cents = load(s, dir, "events")
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .filter(col("c").isNotNull) // oracle's WHERE value IS NOT NULL
    val q = Stats.exactQuantiles(cents, "event_type", "c", Seq(0.05, 0.95))
    cents.join(broadcast(q), "event_type")
      .select(col("event_type"),
        greatest(col("p5"), least(col("p95"), col("c"))).as("cw"),
        col("p5"), col("p95"))
      .groupBy("event_type")
      .agg(max(col("p5")).as("p5"), max(col("p95")).as("p95"),
        count(lit(1)).as("n"),
        expr("sum(cw) * 10000 div count(*)").as("wmean4"))
      .orderBy("event_type")
  }

  private val winsorSql =
    """WITH c AS (SELECT event_type,
      |             CAST(round(value * 100) AS BIGINT) AS c
      |           FROM events WHERE value IS NOT NULL),
      |r AS (SELECT event_type, c,
      |             row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
      |             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |      FROM c),
      |q AS (SELECT event_type,
      |             max(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT) THEN c END) AS p5,
      |             max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN c END) AS p95
      |      FROM r GROUP BY 1)
      |SELECT c.event_type, q.p5, q.p95, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(greatest(q.p5, least(q.p95, c.c))) * 10000 // count(*) AS BIGINT) AS wmean4
      |FROM c JOIN q ON c.event_type = q.event_type
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------- Q-bloomjoin
  // Bloom-pruned semi-join (Sketches.bloomLiteralMightContain): the
  // distributed bitmap build densifies into ⌈m/63⌉ literal longs (a
  // BOUNDED driver read) and becomes a PURE scan-stage predicate on the
  // probe side — the 100 TB shape where (1−fp)·miss of the big table
  // dies inside whole-stage codegen before any exchange, and the exact
  // semi-join afterwards removes the false positives. No false
  // negatives ever ⇒ prefilter + join is RESULT-IDENTICAL to the plain
  // semi-join the oracle states — the bloom's entire effect is bytes
  // moved, which is exactly what a correctness gate can't see and the
  // plan/fp-rate spec pins instead.
  private val BjBits = 4032 // 64 words of 63 bits
  private val BjK = 3
  private val BjNation = "NATION_3"

  def bloomJoinQ(s: SparkSession, dir: String): DataFrame = {
    val keys = load(s, dir, "supplier")
      .join(broadcast(load(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === BjNation)
      .select(col("s_suppkey"))
    val words = Sketches.bloomBitmapWords(
      Sketches.bloomBuild(keys, "s_suppkey", BjBits, BjK), BjBits)
    load(s, dir, "lineitem")
      .filter(Sketches.bloomLiteralMightContain(words,
        col("l_suppkey"), BjBits, BjK))
      .join(keys, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_returnflag").as("flag"))
      .agg(count(lit(1)).as("n"),
        ExactAgg.moneySum(col("l_extendedprice"), 100).as("revenue"))
      .orderBy("flag")
  }

  private val bloomJoinSql =
    s"""SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("l_extendedprice")} AS revenue
       |FROM lineitem
       |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
       |                    JOIN nation ON s_nationkey = n_nationkey
       |                    WHERE n_name = '$BjNation')
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- Q-markov
  // First-order Markov transition matrix over each user's event
  // sequence: count (cur → next) pairs via ONE lag window by user,
  // probability as the exact rational c_ab·10⁴ div c_a (the q_pmi
  // integer-division discipline — float division lands on round()
  // boundaries the two engines disagree on). The session-modeling /
  // next-event-prediction statistic; one window shuffle + one
  // partial-agg count, transition-matrix size is |types|², never data-
  // sized.
  def markovQ(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val pairs = load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type").as("cur"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy("cur", "nxt").agg(count(lit(1)).as("c_ab"))
    val outTotals = pairs.groupBy("cur").agg(sum(col("c_ab")).as("c_a"))
    pairs.join(broadcast(outTotals), "cur")
      .select(col("cur"), col("nxt"), col("c_ab"),
        expr("c_ab * 10000 div c_a").as("p4"))
      .orderBy("cur", "nxt")
  }

  private val markovSql =
    """WITH e AS (SELECT user_id, event_id, event_type AS cur,
      |             epoch_us(ts) AS us
      |           FROM events),
      |l AS (SELECT cur, lead(cur) OVER (PARTITION BY user_id
      |                                  ORDER BY us, event_id) AS nxt
      |      FROM e),
      |p AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c_ab
      |      FROM l WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT cur, CAST(sum(c_ab) AS BIGINT) AS c_a FROM p GROUP BY 1)
      |SELECT p.cur, p.nxt, p.c_ab, p.c_ab * 10000 // t.c_a AS p4
      |FROM p JOIN t ON p.cur = t.cur
      |ORDER BY p.cur, p.nxt""".stripMargin

  // ------------------------------------------------------------ Q-profile
  // Dataset-card profiling: per-column null count, distinct count, and
  // min/max over the events table in ONE partial-aggregated pass (no
  // per-column jobs, no second scan) — the stats block every published
  // training dataset ships with, and the freshness/sanity check a
  // 100 TB ingest runs after every load. Emitted long-form (one row
  // per column) so new columns never change the schema.
  def profileQ(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events")
    val a = ev.agg(
      count(lit(1)).as("n"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("user_nulls"),
      countDistinct(col("user_id")).as("user_distinct"),
      min(col("user_id")).cast("string").as("user_min"),
      max(col("user_id")).cast("string").as("user_max"),
      sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("type_nulls"),
      countDistinct(col("event_type")).as("type_distinct"),
      min(col("event_type")).as("type_min"),
      max(col("event_type")).as("type_max"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("value_nulls"),
      countDistinct(col("value")).as("value_distinct"),
      // doubles render differently across engines (1.0E-4 vs 0.0001);
      // min/max cross the gate as cents — round is monotone, so
      // min(cents) = cents(min)
      min(expr("CAST(round(value * 100) AS BIGINT)")).cast("string")
        .as("value_min"),
      max(expr("CAST(round(value * 100) AS BIGINT)")).cast("string")
        .as("value_max"))
    a.select(explode(array(
        struct(lit("user_id").as("column"), col("n"),
          col("user_nulls").as("n_null"), col("user_distinct").as("n_distinct"),
          col("user_min").as("min_v"), col("user_max").as("max_v")),
        struct(lit("event_type").as("column"), col("n"),
          col("type_nulls").as("n_null"), col("type_distinct").as("n_distinct"),
          col("type_min").as("min_v"), col("type_max").as("max_v")),
        struct(lit("value").as("column"), col("n"),
          col("value_nulls").as("n_null"), col("value_distinct").as("n_distinct"),
          col("value_min").as("min_v"), col("value_max").as("max_v"))))
        .as("r"))
      .select("r.column", "r.n", "r.n_null", "r.n_distinct", "r.min_v", "r.max_v")
      .orderBy("column")
  }

  private val profileSql =
    """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) FILTER (user_id IS NULL) AS BIGINT) AS un,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS ud,
      |  CAST(min(user_id) AS VARCHAR) AS umin, CAST(max(user_id) AS VARCHAR) AS umax,
      |  CAST(count(*) FILTER (event_type IS NULL) AS BIGINT) AS tn,
      |  CAST(count(DISTINCT event_type) AS BIGINT) AS td,
      |  min(event_type) AS tmin, max(event_type) AS tmax,
      |  CAST(count(*) FILTER (value IS NULL) AS BIGINT) AS vn,
      |  CAST(count(DISTINCT value) AS BIGINT) AS vd,
      |  CAST(min(CAST(round(value * 100) AS BIGINT)) AS VARCHAR) AS vmin,
      |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS VARCHAR) AS vmax
      |  FROM events)
      |SELECT 'event_type' AS "column", n, tn AS n_null, td AS n_distinct,
      |       tmin AS min_v, tmax AS max_v FROM a
      |UNION ALL
      |SELECT 'user_id', n, un, ud, umin, umax FROM a
      |UNION ALL
      |SELECT 'value', n, vn, vd, vmin, vmax FROM a
      |ORDER BY "column"""".stripMargin

  // ------------------------------------------------------------- Q-frames
  // Video frame-sampling plumbing (Multimodal.sampleFrames): per-row
  // duration (derived deterministically from the payload hash — the
  // fakeDecode pattern; a real deployment reads it from the container
  // header via the decodePartition seam) explodes IN-ROW into the
  // t = 0, stride, … frame grid — no join, no shuffle, frame rows born
  // partition-local next to their payload. Oracle replays the grid
  // with generate_series over the same sha arithmetic.
  private val FrameStrideMs = 5000L

  def framesQ(s: SparkSession, dir: String): DataFrame = {
    val dur = (shaHash32(col("text")) % 60000L + 1000L).as("duration_ms")
    Multimodal.sampleFrames(
        load(s, dir, "documents").select(col("doc_id"), dur),
        col("duration_ms"), FrameStrideMs)
      .select("doc_id", "duration_ms", "frame_idx", "t_ms")
      .orderBy("doc_id", "frame_idx")
  }

  private val framesSql =
    s"""WITH d AS (SELECT doc_id,
       |             ${sqlSh32("text")} % 60000 + 1000 AS duration_ms
       |           FROM documents),
       |f AS (SELECT doc_id, duration_ms,
       |             unnest(generate_series(0, (duration_ms - 1) // $FrameStrideMs))
       |               AS frame_idx
       |      FROM d)
       |SELECT doc_id, duration_ms, frame_idx,
       |       frame_idx * $FrameStrideMs AS t_ms
       |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  // ------------------------------------------------------------ Q-threads
  // Conversation/journey assembly: each (user, day) thread becomes its
  // ordered turn sequence — the transcript-assembly step of a chat-data
  // pipeline and the session-path analytics query, as ONE groupBy with
  // an in-row sort (collect_list → array_sort on (ts, event_id) struct
  // keys → join) — never a global sort of the event stream, and the
  // per-thread state is bounded by the thread's own length. The path
  // crosses the gate as a string so both engines hash the same scalar.
  def threadsQ(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .groupBy(col("user_id"), evDay.as("d"))
      .agg(count(lit(1)).as("n_turns"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type")), ">").as("path"))
      .orderBy("user_id", "d")

  private val threadsSql =
    """SELECT user_id,
      |       date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
      |       CAST(count(*) AS BIGINT) AS n_turns,
      |       string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |FROM events GROUP BY 1, 2 ORDER BY user_id, d""".stripMargin

  // ----------------------------------------------------------- Q-debounce
  // Event debounce: a (user, type) event within `DebounceUs` of the
  // PREVIOUS event of that (user, type) is suppressed — the telemetry
  // noise filter (double-clicks, retry storms) ahead of any behavioral
  // analysis. Lag-anchored semantics (each event compares to its
  // immediate predecessor, kept or not — the windowable form; anchor-
  // to-last-KEPT debounce is sequential state, which is what
  // Sessionize's gap logic covers). One window shuffle by (user, type);
  // ties resolve on event_id both engines. (DebounceUs is declared
  // above q_stream_debounce — val init order — shared by both rules.)
  def debounceQ(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy("us", "event_id")
    load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("kept",
        col("prev").isNull || col("us") - col("prev") > DebounceUs)
      .groupBy("event_type")
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
      .orderBy("event_type")
  }

  private val debounceSql =
    s"""WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us
       |           FROM events),
       |l AS (SELECT event_type, us,
       |             lag(us) OVER (PARTITION BY user_id, event_type
       |                           ORDER BY us, event_id) AS prev
       |      FROM e),
       |k AS (SELECT event_type,
       |             (prev IS NULL OR us - prev > $DebounceUs) AS kept
       |      FROM l)
       |SELECT event_type,
       |       CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
       |       CAST(count(*) FILTER (NOT kept) AS BIGINT) AS n_dropped
       |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ Q-compact
  // Small-file compaction (Layout.compactFiles): the events table is
  // first fragmented into 48 tiny files (the streaming-ingest debris
  // shape), then compacted back to ⌈bytes/target⌉ files with a NARROW
  // coalesce — no shuffle anywhere in the maintenance pass. The gate
  // reads the COMPACTED copy and aggregates; the oracle reads the
  // ORIGINAL table, so any row the rewrite drops or mangles diverges
  // the hash. LayoutSpec asserts the file-count collapse and the
  // no-Exchange plan.
  private val CompactFragDir = s"$FixtureRoot/compact_frag"
  private val CompactOutDir = s"$FixtureRoot/compact_out"

  def compactQ(s: SparkSession, dir: String): DataFrame = {
    publishOnce(CompactOutDir, dir) {
      load(s, dir, "events").repartition(48)
        .write.mode("overwrite").parquet(CompactFragDir)
      Layout.compactFiles(s, CompactFragDir, CompactOutDir, 64L << 20)
      ()
    }
    s.read.parquet(CompactOutDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        ExactAgg.moneySum(col("value"), 100).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  private val compactSql =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("value")} AS sum_value,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- Q-rollup
  // Hierarchical totals (A-family breadth): ROLLUP over (returnflag,
  // linestatus) with exact money sums — detail, per-flag subtotal, and
  // grand total in ONE pass (Spark expands grouping sets inside a
  // single partial-aggregated shuffle; no union of three scans).
  // grouping_id pins which level each row belongs to — Spark's bit
  // order matches ANSI GROUPING(), asserted by the hash.
  def rollupQ(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"),
        col("l_extendedprice"), col("l_quantity"))
      .rollup("flag", "status")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        ExactAgg.moneySum(col("l_extendedprice"), 100).as("sum_price"),
        ExactAgg.moneySum(col("l_quantity"), 100).as("sum_qty"))
      .select("flag", "status", "gid", "n", "sum_price", "sum_qty")
      .orderBy(col("gid"), col("flag"), col("status"))

  private val rollupSql =
    s"""SELECT l_returnflag AS flag, l_linestatus AS status,
       |       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |       CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("l_extendedprice")} AS sum_price,
       |       ${moneySumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY gid, flag, status""".stripMargin

  // --------------------------------------------------------- Q-corr/Q-ols
  // Distributed statistics with the exact-moment discipline
  // (Stats.momentSums): the built-in corr()/covar fold doubles in
  // partition order — nondeterministic across cluster shapes, the
  // same disease the money sums cure with fixed-point cents. Here
  // every second moment (n, Σx, Σy, Σx², Σy², Σxy) is an exact BIGINT
  // through ONE partial-aggregated shuffle; correlation and the OLS
  // fit divide/sqrt once at the end on identical operands. x = day
  // index since the events epoch, y = value cents, per event type.
  private def dayCentsMoments(s: SparkSession, dir: String) =
    Stats.momentSums(
      load(s, dir, "events"),
      "event_type",
      datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")),
      round(col("value") * 100))

  def corrQ(s: SparkSession, dir: String): DataFrame = {
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    dayCentsMoments(s, dir)
      .withColumn("r", when(vx > 0 && vy > 0,
        round(cov.cast("double") /
          sqrt(vx.cast("double") * vy.cast("double")), 4)))
      .select("event_type", "n", "sxy", "r")
      .orderBy("event_type")
  }

  private val MomentsCte =
    """m AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(y * y) AS BIGINT) AS syy,
      |         CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM (SELECT event_type,
      |               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
      |                 AS x,
      |               CAST(round(value * 100) AS BIGINT) AS y
      |        FROM events)
      |  GROUP BY event_type)""".stripMargin

  private val corrSql =
    s"""WITH $MomentsCte
       |SELECT event_type, n, sxy,
       |       CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
       |         round(CAST(n*sxy - sx*sy AS DOUBLE) /
       |               sqrt(CAST(n*sxx - sx*sx AS DOUBLE) *
       |                    CAST(n*syy - sy*sy AS DOUBLE)), 4)
       |       END AS r
       |FROM m ORDER BY event_type""".stripMargin

  def olsQ(s: SparkSession, dir: String): DataFrame = {
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    dayCentsMoments(s, dir)
      .withColumn("slope",
        when(den > 0, round(num.cast("double") / den.cast("double"), 4)))
      .withColumn("intercept",
        when(den > 0, round(
          (col("sy").cast("double") -
            (num.cast("double") / den.cast("double")) *
              col("sx").cast("double")) / col("n").cast("double"), 4)))
      .select("event_type", "n", "slope", "intercept")
      .orderBy("event_type")
  }

  private val olsSql =
    s"""WITH $MomentsCte
       |SELECT event_type, n,
       |       CASE WHEN n*sxx - sx*sx > 0 THEN
       |         round(CAST(n*sxy - sx*sy AS DOUBLE) /
       |               CAST(n*sxx - sx*sx AS DOUBLE), 4)
       |       END AS slope,
       |       CASE WHEN n*sxx - sx*sx > 0 THEN
       |         round((CAST(sy AS DOUBLE) -
       |                (CAST(n*sxy - sx*sy AS DOUBLE) /
       |                 CAST(n*sxx - sx*sx AS DOUBLE)) * CAST(sx AS DOUBLE))
       |               / CAST(n AS DOUBLE), 4)
       |       END AS intercept
       |FROM m ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------- Q-rank
  // Window-function breadth: rank / dense_rank / percent_rank /
  // cume_dist over a TIED ordering (two-decimal prices repeat, so tie
  // semantics — gaps in rank, peers sharing cume_dist — are what
  // crosses the hash), plus ntile over a TIE-FREE ordering in the
  // same pass. The split is deliberate: ntile is row-number-based, so
  // under ties its output depends on the engine's arbitrary tie
  // order — it is only deterministic over a total order. The sampled
  // filter (orderkey % 997) keeps rows spread across the whole
  // distribution instead of clustering at rank 1. percent_rank and
  // cume_dist are small-integer divisions computed identically by
  // both engines' doubles; rounded to 4 anyway per house rule.
  def rankQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tied = Window.partitionBy("flag").orderBy(col("l_extendedprice").desc)
    val total = Window.partitionBy("flag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
    load(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
      .withColumn("rnk", rank().over(tied).cast("bigint"))
      .withColumn("drnk", dense_rank().over(tied).cast("bigint"))
      .withColumn("prk", round(percent_rank().over(tied), 4))
      .withColumn("cd", round(cume_dist().over(tied), 4))
      .withColumn("decile", ntile(10).over(total))
      .filter(col("l_orderkey") % 997 === 0)
      .select("flag", "l_orderkey", "l_linenumber", "rnk", "drnk",
        "prk", "cd", "decile")
      .orderBy("flag", "l_orderkey", "l_linenumber")
  }

  private val rankSql =
    """WITH r AS (
      |  SELECT l_returnflag AS flag, l_orderkey, l_linenumber,
      |         CAST(rank() OVER tied AS BIGINT) AS rnk,
      |         CAST(dense_rank() OVER tied AS BIGINT) AS drnk,
      |         round(percent_rank() OVER tied, 4) AS prk,
      |         round(cume_dist() OVER tied, 4) AS cd,
      |         CAST(ntile(10) OVER tot AS INTEGER) AS decile
      |  FROM lineitem
      |  WINDOW tied AS (PARTITION BY l_returnflag
      |                  ORDER BY l_extendedprice DESC),
      |         tot AS (PARTITION BY l_returnflag
      |                 ORDER BY l_extendedprice DESC, l_orderkey,
      |                          l_linenumber))
      |SELECT flag, l_orderkey, l_linenumber, rnk, drnk, prk, cd, decile
      |FROM r WHERE l_orderkey % 997 = 0
      |ORDER BY flag, l_orderkey, l_linenumber""".stripMargin

  // --------------------------------------------------------------- Q-cube
  // CUBE completes the grouping-sets family q_rollup opened: all FOUR
  // grouping sets — (flag,status), (flag), (status), () — in ONE
  // partial-aggregated pass, where rollup only produces the prefix
  // chain. The (status)-only set is the one a rollup can't state and
  // the one that forces the grouping-set expansion to replicate input
  // rows per set BEFORE the partial agg — still one exchange, sized
  // |groups|·|sets|, never a union of scans. grouping_id bit order is
  // pinned against ANSI GROUPING() by the hash, same as q_rollup.
  def cubeQ(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_linestatus").as("status"),
        col("l_extendedprice"))
      .cube("flag", "status")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        ExactAgg.moneySum(col("l_extendedprice"), 100).as("sum_price"))
      .select("flag", "status", "gid", "n", "sum_price")
      .orderBy(col("gid"), col("flag"), col("status"))

  private val cubeSql =
    s"""SELECT l_returnflag AS flag, l_linestatus AS status,
       |       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       |       CAST(count(*) AS BIGINT) AS n,
       |       ${moneySumSql("l_extendedprice")} AS sum_price
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY gid, flag, status""".stripMargin

  // -------------------------------------------------------------- Q-pivot
  // Wide-table pivot: per customer segment, event counts and exact
  // value sums spread across event-type columns. The pivot VALUES are
  // passed explicitly — at 100 TB `pivot(col)` without values runs a
  // blocking distinct-scan job before planning even starts; with
  // literals the whole thing is ONE partial-aggregated shuffle. The
  // oracle states the equivalent CASE aggregation.
  private val PivotTypes = Seq("view", "click", "purchase", "signup", "error")

  def pivotQ(s: SparkSession, dir: String): DataFrame = {
    val dim = load(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("seg"))
    load(s, dir, "events").join(broadcast(dim), "user_id")
      .groupBy("seg")
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)).as("n"),
        ExactAgg.moneySum(col("value"), 100).as("sum"))
      .orderBy("seg")
  }

  private val pivotSql = {
    val cols = PivotTypes.map { t =>
      s"""CAST(count(*) FILTER (event_type = '$t') AS BIGINT) AS "${t}_n",
         |  sum(CAST(round(value * 100) AS BIGINT))
         |    FILTER (event_type = '$t') / 100.0 AS "${t}_sum"""".stripMargin
    }.mkString(",\n  ")
    s"""SELECT c_mktsegment AS seg,
       |  $cols
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --------------------------------------------------------------- Q-diff
  // Snapshot diff (Snapshot.diff): the nightly regression report between
  // two runs of the same publish — added / removed / changed keys from
  // ONE full-outer join of (key, sha-fingerprint) projections, shuffle
  // volume independent of row width. The "after" snapshot derives
  // deterministically from orders (keys %50 dropped, prices %7 bumped a
  // dollar, %97 re-keyed high as inserts), and the oracle classifies by
  // DIRECT column comparison (IS DISTINCT FROM) — an independent
  // derivation, so a fingerprint that missed a column or collided
  // null/"null" diverges the hash. Compared columns render as
  // BIGINT/strings (money as cents), never raw doubles.
  def diffQ(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
    val cents = round(col("o_totalprice") * 100).cast("long")
    val before = orders.select(col("o_orderkey"), col("o_custkey"),
      col("o_orderstatus"), cents.as("cents"), col("o_orderpriority"))
    val after = orders.filter(col("o_orderkey") % 50 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (cents + when(col("o_orderkey") % 7 === 0, 100L).otherwise(0L)).as("cents"),
        col("o_orderpriority"))
      .unionByName(orders.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), cents.as("cents"),
          col("o_orderpriority")))
    Snapshot.diff(before, after, Seq("o_orderkey"),
        Seq(col("o_custkey"), col("o_orderstatus"), col("cents"),
          col("o_orderpriority")))
      .orderBy("o_orderkey")
  }

  private val diffSql =
    """WITH b AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
      |             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |             o_orderpriority
      |           FROM orders),
      |a AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
      |        CAST(round(o_totalprice * 100) AS BIGINT) +
      |          CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END AS cents,
      |        o_orderpriority
      |      FROM orders WHERE o_orderkey % 50 != 0
      |      UNION ALL
      |      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
      |             CAST(round(o_totalprice * 100) AS BIGINT), o_orderpriority
      |      FROM orders WHERE o_orderkey % 97 = 0)
      |SELECT coalesce(a.k, b.k) AS o_orderkey,
      |       CASE WHEN b.k IS NULL THEN 'added'
      |            WHEN a.k IS NULL THEN 'removed'
      |            ELSE 'changed' END AS change
      |FROM b FULL JOIN a ON a.k = b.k
      |WHERE b.k IS NULL OR a.k IS NULL
      |   OR a.o_custkey IS DISTINCT FROM b.o_custkey
      |   OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
      |   OR a.cents IS DISTINCT FROM b.cents
      |   OR a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------- Q-funnel
  // Ordered-step funnel (Behavior.windowFunnel): first view → first
  // click strictly after it → first purchase strictly after that, all
  // within a 7-day window anchored at the view — the
  // ClickHouse-windowFunnel query shape, executed as ONE shuffle
  // (step-filtered scan → groupBy user → sorted fold; no per-step join
  // cascade). The oracle states the equivalent min-cascade (t2 = min
  // click ts > t1 ∧ ≤ t1+W, ...), so the fold's strictness, horizon
  // anchoring and tie handling are all pinned per user-row, timestamp
  // by timestamp.
  private val FunnelSteps = Seq("view", "click", "purchase")
  private val FunnelHorizonUs = 7L * 24 * 3600 * 1000000

  def funnelQ(s: SparkSession, dir: String): DataFrame =
    Behavior.windowFunnel(load(s, dir, "events"), "user_id",
        unix_micros(col("ts").cast("timestamp")), col("event_type"),
        FunnelSteps, FunnelHorizonUs)
      .select(col("user").as("user_id"), col("t0"), col("t1"), col("t2"),
        col("reached"))
      .orderBy("user_id")

  private val funnelSql =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |s1 AS (SELECT user_id, min(us) AS t0 FROM ev
       |       WHERE event_type = 'view' GROUP BY 1),
       |s2 AS (SELECT ev.user_id, min(us) AS t1
       |       FROM ev JOIN s1 USING (user_id)
       |       WHERE event_type = 'click' AND us > t0
       |         AND us <= t0 + $FunnelHorizonUs GROUP BY 1),
       |s3 AS (SELECT ev.user_id, min(us) AS t2
       |       FROM ev JOIN s2 USING (user_id) JOIN s1 USING (user_id)
       |       WHERE event_type = 'purchase' AND us > t1
       |         AND us <= t0 + $FunnelHorizonUs GROUP BY 1)
       |SELECT s1.user_id, t0, t1, t2,
       |       CAST(CASE WHEN t2 IS NOT NULL THEN 3
       |                 WHEN t1 IS NOT NULL THEN 2
       |                 ELSE 1 END AS BIGINT) AS reached
       |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
       |ORDER BY s1.user_id""".stripMargin

  // ------------------------------------------------------- Q-stream-funnel
  // Streaming funnel (streaming/Funnelize): the flatMapGroupsWithState
  // twin of q_funnel — per-user slot state maintained incrementally,
  // out-of-order events buffered until the watermark passes them
  // (Sessionize's contract), last-wins preview read-out. The gate runs
  // AvailableNow over the same events table and must hash-match the
  // BATCH min-cascade oracle exactly: one operator semantics, two
  // execution modes.
  def streamFunnelQ(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Funnelize.userFunnels(s, dir, "events.parquet",
        FunnelSteps, FunnelHorizonUs)
      .orderBy("user_id")

  // ------------------------------------------------------------- Q-cohort
  // Cohort retention (Behavior.cohortRetention): users cohorted by
  // signup week, counted distinct in each subsequent week they were
  // active — the standard retention triangle. Day index = days since
  // 2024-01-01 (the events epoch); pre-signup activity excluded. Two
  // shuffles, both on natural keys (user for the anchor min, (cohort,
  // offset) for the cell count).
  def cohortQ(s: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
      .cast("long")
    Behavior.cohortRetention(load(s, dir, "events"), "user_id", day,
        col("event_type"), "signup", 7)
      // 'offset' is an ANSI reserved word (the DuckDB gate rejects it
      // unquoted) — present it as week_offset
      .select(col("cohort"), col("offset").as("week_offset"), col("n_users"))
      .orderBy("cohort", "week_offset")
  }

  private val cohortSql =
    """WITH ev AS (SELECT user_id,
      |              date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
      |              event_type
      |            FROM events),
      |an AS (SELECT user_id, min(d) AS d0 FROM ev
      |       WHERE event_type = 'signup' GROUP BY 1)
      |SELECT d0 // 7 AS cohort, (d - d0) // 7 AS week_offset,
      |       CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
      |FROM ev JOIN an USING (user_id)
      |WHERE d >= d0
      |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin

  // ---------------------------------------------------------- Q-blocklist
  // Banned-term document filter (QualityRules.blocklistCounts): the
  // C4-style safety gate — a page containing ANY blocklisted token is
  // dropped (Raffel et al. 2020). Matching is exact whole-token, never
  // substring; the list rides as a scan-stage array literal (zero
  // shuffle until the presentation sort) — corpus-sized term sets go
  // through the Decontaminate broadcast semi-join instead. 'slow' and
  // 'dup' are real vocab terms (most docs trip, a meaningful few pass);
  // 'zz_banned' pins absent-term behavior.
  private val Blocklist = Seq("slow", "dup", "zz_banned")

  def blocklistQ(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("__tk"))
    val cs = QualityRules.blocklistCounts(col("__tk"), Blocklist)
    base.select(
        col("doc_id") +: cs.map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep", col("n_hits") === 0)
      .orderBy("doc_id")
  }

  private val blocklistSql = {
    val lst = Blocklist.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, $SqlToks AS tk FROM documents)
       |SELECT doc_id,
       |  CAST(len(list_filter(tk, x -> list_contains($lst, x))) AS BIGINT)
       |    AS n_hits,
       |  CAST(len(list_intersect(list_distinct(tk), $lst)) AS BIGINT)
       |    AS n_distinct,
       |  len(list_filter(tk, x -> list_contains($lst, x))) = 0 AS keep
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- Q-anchor
  // Anchor-text aggregation (TextFunctions.extractAnchors): harvest what
  // OTHER pages say when they link to a target — per canonical target
  // URL, the reference count, distinct linking pages, and the modal
  // anchor text. The third-party-description augmentation signal of a
  // web corpus, and the aggregation half of a link-graph build
  // (q_pagerank is the centrality half). Each doc links its text's
  // cross-doc target (doc_id % 97 — many sources per target, varied
  // anchor wording via `source`) plus one sitewide boilerplate link.
  // Render→parse gate style (q_html precedent): the oracle does NOT
  // replay the anchor regexps — targets and texts derive INDEPENDENTLY
  // from the seed columns, so an extractor that mispaired an href with
  // the neighboring anchor's text, double-decoded an entity, or leaked
  // a tag diverges the hash. Scale shape: extraction is scan-stage; the
  // shuffles key on url then (url, anchor) — the natural keys; the
  // top-anchor window runs over already-aggregated (url, anchor) rows,
  // never the raw anchor stream.
  def anchorQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{extractAnchors, canonicalizeUrl}
    val html = concat(
      lit("<html><body><p>"), col("text"),
      lit("</p><a class=\"x\" HREF=\"HTTP://Example.com/d/"),
      (col("doc_id") % 97).cast("string"),
      lit("?utm_campaign=x&ref=2\">read "), col("source"),
      lit(" &amp; more</a> <a href=\"https://example.org/about#top\">about</a>"),
      lit("</body></html>"))
    val anchors = load(s, dir, "documents")
      .select(col("doc_id"), explode(extractAnchors(html)).as("a"))
      .select(col("doc_id"), canonicalizeUrl(col("a.href")).as("url"),
        col("a.text").as("anchor"))
    val perText = anchors.groupBy("url", "anchor")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("url")
          .orderBy(col("n").desc, col("anchor"))))
    val perUrl = anchors.groupBy("url")
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("doc_id")).as("n_srcs"))
    perUrl.join(perText.filter(col("rn") === 1), "url")
      .select(col("url"), col("n_refs"), col("n_srcs"),
        col("anchor").as("top_anchor"), col("n").as("top_n"))
      .orderBy("url")
  }

  private val anchorSql =
    """WITH a AS (
      |  SELECT doc_id,
      |         'http://example.com/d/' || CAST(doc_id % 97 AS VARCHAR)
      |           || '?ref=2' AS url,
      |         'read ' || source || ' & more' AS anchor
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'https://example.org/about', 'about' FROM documents),
      |per AS (SELECT url, anchor, CAST(count(*) AS BIGINT) AS n
      |        FROM a GROUP BY url, anchor),
      |tops AS (SELECT url, anchor, n,
      |           row_number() OVER (PARTITION BY url
      |                              ORDER BY n DESC, anchor) AS rn
      |         FROM per),
      |agg AS (SELECT url, CAST(count(*) AS BIGINT) AS n_refs,
      |               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_srcs
      |        FROM a GROUP BY url)
      |SELECT agg.url, n_refs, n_srcs, tops.anchor AS top_anchor,
      |       tops.n AS top_n
      |FROM agg JOIN tops USING (url) WHERE rn = 1
      |ORDER BY agg.url""".stripMargin

  // ------------------------------------------------------------ Q-pagerank
  // Link-graph centrality (Graph.pageRank): fixed-point integer
  // PageRank, 3 rounds over the bipartite order↔part multigraph from
  // lineitem (both directions, so no node dangles). Every step is exact
  // BIGINT arithmetic — contrib = pr div out-degree, damped update =
  // base + (85·Σ) div 100 — so the oracle replays all three rounds as
  // unrolled CTEs and the ranks match bit-for-bit. Top-20 by (pr, node).
  private val PrIters = 3
  private val PrScale = 1000000L
  private val PrTop = 20

  def pageRankQ(s: SparkSession, dir: String): DataFrame = {
    // r17: the iterations run on LONG-encoded node ids (order → 2k,
    // part → 2k+1 — a bijection, so every per-node sum is unchanged) and
    // the decorated strings are minted only on the 20-row output; the
    // per-round exchanges carry 8-byte keys instead of 8-char strings
    // (guide §2.3). Rank arithmetic never orders by node id, so the
    // encoding cannot shift a value; the final (pr, node-string) sort is
    // computed on the SAME strings as before.
    val li = load(s, dir, "lineitem")
    val fwd = li.select(
      (col("l_orderkey").cast("long") * 2).as("src"),
      (col("l_partkey").cast("long") * 2 + 1).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pageRank(edges, "src", "dst", PrIters, PrScale)
      .select(
        concat(when(col("node") % 2 === 0, "o").otherwise("p"),
          expr("node div 2").cast("string")).as("node"),
        col("pr"))
      .orderBy(col("pr").desc, col("node")).limit(PrTop)
  }

  private lazy val pageRankSql = {
    val base = (PrScale * 15L) / 100L
    def iter(prev: String): String =
      s"""SELECT n.node, $base + (85 * coalesce(s.s, 0)) // 100 AS pr
         |FROM prnodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(sum(p.pr // o.outd) AS BIGINT) AS s
         |    FROM pre e JOIN $prev p ON e.src = p.node
         |         JOIN proutd o ON e.src = o.node
         |    GROUP BY e.dst) s ON n.node = s.node""".stripMargin
    s"""WITH pre AS (
       |  SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src,
       |         'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem
       |  UNION ALL
       |  SELECT 'p' || CAST(l_partkey AS VARCHAR),
       |         'o' || CAST(l_orderkey AS VARCHAR) FROM lineitem),
       |prnodes AS (SELECT src AS node FROM pre UNION SELECT dst FROM pre),
       |proutd AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outd
       |           FROM pre GROUP BY src),
       |pr0 AS (SELECT node, CAST($PrScale AS BIGINT) AS pr FROM prnodes),
       |pr1 AS (${iter("pr0")}),
       |pr2 AS (${iter("pr1")}),
       |pr3 AS (${iter("pr2")})
       |SELECT node, CAST(pr AS BIGINT) AS pr FROM pr3
       |ORDER BY pr DESC, node LIMIT $PrTop""".stripMargin
  }

  // ------------------------------------------------------------ Q-pathnorm
  // J11/S12: metadata↔payload join on normalized relative paths (./ and
  // // noise on the meta side; every 13th file lives elsewhere) + the
  // first path segment as the directory-structure entry column.
  def pathNorm(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val meta = docs.select(col("doc_id"),
      concat(lit("./docs//d"), col("doc_id").cast("string"), lit(".txt")).as("fname"))
    val files = docs.select(
      when(col("doc_id") % 13 === 0,
        concat(lit("other/d"), col("doc_id").cast("string"), lit(".txt")))
        .otherwise(concat(lit("docs/d"), col("doc_id").cast("string"), lit(".txt")))
        .as("path"))
    Joins.joinOnPath(meta, files, "fname", "path")
      .select(col("doc_id"), element_at(split(col("path"), "/"), 1).as("entry"))
      .orderBy("doc_id")
  }

  private val pathNormSql =
    """SELECT doc_id, 'docs' AS entry FROM documents
      |WHERE doc_id % 13 <> 0 ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- Q-whitelist
  // J4/J10: broadcast whitelist semi-join + existence probe (parts of
  // panel brands that actually occur in the fact table).
  def whitelistQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val panel = Seq("Brand#11", "Brand#22", "Brand#33").toDF("p_brand")
    val parts = Joins.whitelist(load(s, dir, "part"), panel, Seq("p_brand"))
    val li = load(s, dir, "lineitem")
    Joins.existsIn(parts, li, parts("p_partkey") === li("l_partkey"))
      .select("p_partkey", "p_brand")
      .orderBy("p_partkey")
  }

  private val whitelistSql =
    """SELECT p_partkey, p_brand FROM part
      |WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
      |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------ Q-linescan
  // S10: labeled line-scan over multi-line text — per-line regex field
  // extraction, aggregated per label for the gate.
  def lineScanQ(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val txt = concat(lit("id "), col("doc_id").cast("string"),
      lit("\nlen "), col("n_chars").cast("string"))
    Parsers.lineScan(docs.select(txt.as("txt")), "txt",
        Map("id" -> "^id ([0-9]+)$", "len" -> "^len ([0-9]+)$"))
      .groupBy("label", "line_no")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("long")).as("sum_v"))
      .orderBy("label")
  }

  private val lineScanSql =
    """SELECT 'id' AS label, 0 AS line_no, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(doc_id) AS BIGINT) AS sum_v FROM documents
      |UNION ALL
      |SELECT 'len', 1, CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
      |FROM documents
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- Q-cel
  // CEL/microarray composition (register-cel-dropbox.py:48-79): facility
  // PDF text rendered per part row, scanned for the RIN section, each
  // barcode paired with its first following German-decimal value line.
  def cel(s: SparkSession, dir: String): DataFrame = {
    import graft.pipelines.CelPipeline
    val part = load(s, dir, "part")
    val code = concat(lit("QABCD"),
      lpad(pmod(col("p_partkey"), lit(1000)).cast("string"), 3, "0"), lit("A0"))
    val rinStr = translate(
      (pmod(col("p_partkey"), lit(80)) / 10.0).cast("string"), ".", ",")
    val txt = concat(lit("Auftragsnummer\nI"), col("p_partkey").cast("string"),
      lit("\nRIN Nummer\n"), code, lit("\n"), rinStr)
    CelPipeline.rinAssociations(
        part.select(col("p_partkey").as("pid"), txt.as("txt")), "pid", "txt")
      .select(col("id"), col("barcode"), col("rin"))
      .orderBy("id")
  }

  private val celSql =
    """SELECT p_partkey AS id,
      |  'QABCD' || lpad(CAST(p_partkey % 1000 AS VARCHAR), 3, '0') || 'A0' AS barcode,
      |  (p_partkey % 80) / 10.0 AS rin
      |FROM part ORDER BY id""".stripMargin

  // ------------------------------------------------------------ Q-pragmas
  // S7: ##key=value VCF header pragmas rendered from nation, driven
  // through the real parse stage (##-only filter excludes the single-#
  // column header).
  def pragmas(s: SparkSession, dir: String): DataFrame = {
    val line = concat(lit("##"), lower(col("n_name")), lit("="),
      col("n_regionkey").cast("string"))
    val noise = s.range(1).select(lit("#CHROM not a pragma").as("value"))
    Parsers.parsePragmaLines(
        load(s, dir, "nation").select(line.as("value")).unionByName(noise))
      .orderBy("key")
  }

  private val pragmasSql =
    """SELECT lower(n_name) AS key, CAST(n_regionkey AS VARCHAR) AS value
      |FROM nation ORDER BY key""".stripMargin

  // -------------------------------------------------------------- Q-probe
  // S8/W4: first-match stream probe over rendered header-ish lines — the
  // events table supplies noise; each probed attribute occurs exactly
  // once (the mzML-header property that makes first-match well-defined).
  def probe(s: SparkSession, dir: String): DataFrame = {
    val noise = load(s, dir, "events")
      .select(concat(lit("<spectrum id=\""), col("event_id"), lit("\"/>")).as("value"))
    val header = s.range(1).select(
      lit("<run startTimeStamp=\"2024-01-01T10:00:00Z\">").as("value"))
      .unionByName(s.range(1).select(
        lit("<cvParam name=\"inst\" accession=\"MS:1000123\"/>").as("value")))
    Parsers.probeLines(noise.unionByName(header), Seq(
        "startTimeStamp" -> "startTimeStamp=\"([^\"]+)\"",
        "instrumentAccession" -> "cvParam[^>]*accession=\"(MS:[0-9]+)\""))
      .orderBy("key")
  }

  private val probeSql =
    """SELECT 'instrumentAccession' AS key, 'MS:1000123' AS value
      |UNION ALL
      |SELECT 'startTimeStamp', '2024-01-01T10:00:00Z'
      |ORDER BY key""".stripMargin

  // ---------------------------------------------------------------- Q-hla
  // HLA-typing composition (register-hlatyping.py:95-128): allele result
  // files rendered from supplier, driven through the REAL pipeline —
  // binary scan rows → whole-file typing payload → content-based MHC
  // routing → HLA<class><parent> code → MERGE into the existing store.
  // Suppliers %5==0 pre-exist as STALE rows; %3==0 never upload, so
  // those STALE rows must survive the upsert untouched.
  def hla(s: SparkSession, dir: String): DataFrame = {
    import graft.pipelines.HlaPipeline
    val sup = load(s, dir, "supplier")
    val parent = concat(lit("QHLAS"),
      lpad(pmod(col("s_suppkey"), lit(1000)).cast("string"), 3, "0"), lit("A0"))
    val typing = when(col("s_suppkey") % 2 === 0,
        lit("HLA-A*02:01 HLA-B*07:02"))
      .otherwise(lit("HLA-DRB1*04:01 HLA-DQB1*03:01"))
    val scan = sup.filter(col("s_suppkey") % 3 =!= 0)
      .select(concat(lit("/incoming/run"), col("s_suppkey").cast("string"),
          lit("/"), parent, lit(".alleles")).as("path"),
        encode(typing, "UTF-8").as("content"))
    val existing = sup.filter(col("s_suppkey") % 5 === 0)
      .select(concat(lit("HLA"),
          when(col("s_suppkey") % 2 === 0, "1").otherwise("2"), parent)
          .as("sample_code"),
        parent.as("parent"), lit("STALE").as("hla_class"),
        lit("stale").as("typing"))
    HlaPipeline.register(existing, scan).orderBy("sample_code")
  }

  private val hlaSql =
    """WITH sup AS (
      |  SELECT s_suppkey AS k,
      |         'QHLAS' || lpad(CAST(s_suppkey % 1000 AS VARCHAR), 3, '0') || 'A0' AS parent
      |  FROM supplier),
      |inc AS (
      |  SELECT CASE WHEN k % 2 = 0 THEN 'HLA1' ELSE 'HLA2' END || parent AS sample_code,
      |         parent,
      |         CASE WHEN k % 2 = 0 THEN 'MHC_CLASS_I' ELSE 'MHC_CLASS_II' END AS hla_class,
      |         CASE WHEN k % 2 = 0 THEN 'HLA-A*02:01 HLA-B*07:02'
      |              ELSE 'HLA-DRB1*04:01 HLA-DQB1*03:01' END AS typing
      |  FROM sup WHERE k % 3 <> 0),
      |ex AS (
      |  SELECT CASE WHEN k % 2 = 0 THEN 'HLA1' ELSE 'HLA2' END || parent AS sample_code,
      |         parent, 'STALE' AS hla_class, 'stale' AS typing
      |  FROM sup WHERE k % 5 = 0)
      |SELECT * FROM inc
      |UNION ALL
      |SELECT * FROM ex WHERE sample_code NOT IN (SELECT sample_code FROM inc)
      |ORDER BY sample_code""".stripMargin

  // -------------------------------------------------------------- Q-notes
  // F10 Q_NOTES append (add-to-xml-note/edit-note.py:17-31): three
  // sequential appendNote calls starting from an unset property — the
  // oracle replays the reference's exact line-scan quirk (earlier notes
  // collapse to newline-free blocks on each re-edit).
  def notes(s: SparkSession, dir: String): DataFrame = {
    val nation = load(s, dir, "nation")
    val n1 = Sinks.appendNote(lit(null).cast("string"),
      lit("created"), lit("2024-01-01"), col("n_name"))
    val n2 = Sinks.appendNote(n1,
      concat(lit("region="), col("n_regionkey").cast("string")),
      lit("2024-01-02"), col("n_name"))
    val n3 = Sinks.appendNote(n2, lit("closed"), lit("2024-01-03"), lit("admin"))
    nation.select(col("n_nationkey"), n3.as("notes")).orderBy("n_nationkey")
  }

  private val notesSql = {
    // A re-edited note block: the reference drops '</notes>' lines and
    // re-joins WITHOUT newlines, so prior notes flatten to this.
    def compact(c: String, t: String, u: String) =
      s"'<note>' || chr(10) || '<comment>' || $c || '</comment>' || chr(10) || " +
        s"'<time>' || $t || '</time>' || chr(10) || " +
        s"'<username>' || $u || '</username>' || chr(10) || '</note>' || chr(10)"
    def flat(c: String, t: String, u: String) =
      s"'<note><comment>' || $c || '</comment><time>' || $t || " +
        s"'</time><username>' || $u || '</username></note>'"
    s"""SELECT n_nationkey,
       |  '<notes>'
       |  || ${flat("'created'", "'2024-01-01'", "n_name")}
       |  || ${flat("'region=' || CAST(n_regionkey AS VARCHAR)", "'2024-01-02'", "n_name")}
       |  || chr(10) || ${compact("'closed'", "'2024-01-03'", "'admin'")}
       |  || '</notes>' AS notes
       |FROM nation ORDER BY n_nationkey""".stripMargin
  }

  // ---------------------------------------------------------------- Q-tsv
  // S3 + K8 as REAL file I/O: the metadata table is exported with
  // Sinks.writeTsvFile (the reference's single-file TSV export) and read
  // back through Parsers.readTsv (the actual spark.read CSV path,
  // register-omero.py:181-236) — the oracle reads the SAME file with
  // DuckDB's read_csv, so the reader itself crosses the gate, not a
  // parquet-rendered stand-in. German-comma decimals exercise the
  // coercion step (register-cel-dropbox.py:73-75).
  /** Root for rendered file fixtures (q_tsv / q_binary / q_pathdb). A
    * per-JVM temp dir by default so two concurrent gate/bench/test runs
    * on the same host never race on a shared path (renderDropbox
    * delete-rewrites its tree; Derby takes an exclusive db lock —
    * a second JVM on the same db fails with XSDB6). The oracle SQL is
    * rendered from the same value, so the DuckDB side of the gate reads
    * the same files this JVM wrote. `GRAFT_FIXTURE_DIR` pins it when a
    * harness needs a stable location. Unpinned roots can NOT be deleted
    * on our own JVM's exit — the gate's oracle is a separate process
    * that reads these files after Verify exits — so bounded disk use
    * comes from a startup sweep instead: creating a fresh root first
    * deletes sibling `graft_fixtures_*` dirs older than a day (stale by
    * then for any driver), leaving concurrent and just-finished runs
    * untouched. Pinned dirs are the caller's to manage.
    *
    * LAZY, deliberately: earlier vals in this object (IncrIndexDir,
    * StreamOuterDir, IvmBaseDir, CompactFragDir/CompactOutDir) derive
    * paths from this value; as a strict val they'd read it before its
    * initializer ran (forward reference ⇒ null ⇒ literal "null/..."
    * CWD-relative dirs, the round-8 artifact leak). A lazy val forces
    * initialization at first use regardless of declaration order.
    * The env pin is also validated: an empty / literal-"null" /
    * relative value (a harness exporting an unset interpolation) falls
    * through to the temp-dir default instead of writing into the CWD. */
  private lazy val FixtureRoot: String = sys.env.get("GRAFT_FIXTURE_DIR")
    .map(_.trim)
    .filter(v => v.nonEmpty && v != "null" && v.startsWith("/"))
    .getOrElse {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    // r17 (guide §6): fixture scratch prefers tmpfs when the host has
    // one — the snapshot/txn/index cells are many small parquet writes
    // + atomic renames, pure scratch I/O that a disk-backed temp dir
    // turns into fsync latency. Same mitigation class as Bench's
    // stream-checkpoint tmpfs routing; GRAFT_FIXTURE_DIR (above) still
    // overrides for runs that need durable or larger scratch.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val tmp =
      if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
    // best-effort sweep: catch Exception, not just IOException — stream
    // traversal surfaces races as UncheckedIOException (a RuntimeException),
    // and a failed sweep must never take down object init (this is a val
    // initializer; an escape here becomes ExceptionInInitializerError for
    // every query). Streams are closed explicitly (they hold dir handles).
    try {
      val siblings = Files.list(tmp)
      try siblings.forEach { sib =>
        try {
          // staleness = newest mtime of the tree's CONTENTS, not the
          // root dir's — a dir's mtime doesn't move when files inside
          // are rewritten, so a >24h-running concurrent driver that's
          // still refreshing fixtures would look stale by root mtime
          // and lose them mid-run (advice r7)
          if (sib.getFileName.toString.startsWith("graft_fixtures_")) {
            var newest = 0L
            val scan = Files.walk(sib)
            try scan.forEach { p =>
              val t = Files.getLastModifiedTime(p).toMillis
              if (t > newest) newest = t
            } finally scan.close()
            if (newest < cutoff) {
              val walk = Files.walk(sib)
              try walk.sorted(Comparator.reverseOrder[Path]())
                .forEach(p => { Files.deleteIfExists(p); () })
              finally walk.close()
            }
          }
        } catch { case _: Exception => () } // per-sibling: skip and go on
      } finally siblings.close()
    } catch { case _: Exception => () }
    Files.createTempDirectory(tmp, "graft_fixtures_").toString
  }

  /** One fixture publish per (dest, source dir) per JVM: bench reps and
    * repeated spec runs reuse the first rep's write, so timed reps
    * measure the read+join, not the publish. A different source dir
    * re-publishes (same dest path — last writer wins, which is the
    * correct freshness rule within one JVM). The Spark write runs under
    * a plain monitor, NOT inside ConcurrentHashMap.compute: compute
    * holds the bin lock for the body's whole (minutes-long) duration,
    * stalls unrelated keys that share the bin, and forbids re-entrant
    * map updates outright. */
  private val published = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val publishLock = new Object
  /** `valid` guards the skip for artifacts whose visibility is NARROWER
    * than the JVM-global map — q_bucketjoin's saveAsTable publishes into
    * a session-scoped catalog, so a second SparkSession in this JVM must
    * re-publish even though the map says done (advice r7). */
  private def publishOnce(dest: String, dir: String, valid: => Boolean = true)
                         (body: => Unit): Unit =
    if (published.get(dest) != dir || !valid) publishLock.synchronized {
      if (published.get(dest) != dir || !valid) {
        body; published.put(dest, dir); ()
      }
    }

  private val TsvFixturePath = s"$FixtureRoot/metadata_table.tsv"

  def tsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val meta = load(s, dir, "nation").select(
      col("n_name").as("code"),
      col("n_regionkey").cast("string").as("region"),
      translate((col("n_nationkey") / 4.0).cast("string"), ".", ",").as("rin"))
    Sinks.writeTsvFile(meta, TsvFixturePath)
    Parsers.readTsv(s, TsvFixturePath)
      .select(col("code"),
        col("region").cast("bigint").as("region"),
        translate(col("rin"), ",", ".").cast("double").as("rin"))
      .orderBy("code")
  }

  private val tsvSql =
    s"""SELECT code, CAST(region AS BIGINT) AS region,
       |       CAST(replace(rin, ',', '.') AS DOUBLE) AS rin
       |FROM read_csv('$TsvFixturePath', delim=E'\\t', header=true, all_varchar=true)
       |ORDER BY code""".stripMargin

  // ------------------------------------------------------------- Q-binary
  // S1 + S2 + S12 + P5 as REAL file I/O: a dropbox run-tree is rendered
  // from testdata (one file per nation x kind, marker files for completed
  // runs only), then ingested through the actual file path — binaryScan
  // (S1, content-on-demand), the marker gate (S2, dot-prefixed markers
  // via the FileSystem API), pathSegments (S12) and the facility
  // blacklist (P5, register-nanopore.py:120-132). The oracle reads the
  // SAME directory with DuckDB's read_blob and replays the gate, so the
  // binary source itself crosses the gate, not a parquet stand-in.
  private val DropboxFixtureDir = s"$FixtureRoot/dropbox"
  private val DropboxKinds = Seq("fast5_pass", "fastq_pass",
    NanoKinds.head, NanoKinds.last)
  private def NanoKinds = graft.pipelines.NanoporePipeline.KindBlacklist

  /** Render the fixture tree: runs 0-4 from n_regionkey, kinds from
    * [[DropboxKinds]] (two data kinds, two blacklisted), markers only for
    * runs 0-3 — run4 must be dropped by the gate. Bounded driver work:
    * 25 nations x 4 kinds, re-rendered each call for idempotency. */
  private def renderDropbox(s: SparkSession, dir: String): Unit = {
    import java.nio.file.{Files => JFiles, Paths}
    val base = Paths.get(DropboxFixtureDir)
    if (JFiles.exists(base)) {
      val it = JFiles.walk(base).sorted(java.util.Comparator.reverseOrder())
      it.forEach(p => JFiles.delete(p))
    }
    val nations = load(s, dir, "nation")
      .select("n_name", "n_nationkey", "n_regionkey")
      .collect() // 25 rows, fixture rendering only
    nations.foreach { r =>
      val (name, key, region) =
        (r.getString(0), r.getInt(1), r.getInt(2))
      DropboxKinds.foreach { kind =>
        val d = base.resolve(s"run$region/$kind")
        JFiles.createDirectories(d)
        JFiles.write(d.resolve(s"$name.dat"),
          s"$name|$key|$region".getBytes("UTF-8"))
      }
    }
    (0 to 3).foreach { k =>
      JFiles.write(base.resolve(s".MARKER_is_finished_run$k"),
        Array.emptyByteArray)
    }
  }

  def binaryDropbox(s: SparkSession, dir: String): DataFrame = {
    renderDropbox(s, dir)
    val files = Files.binaryScan(s, DropboxFixtureDir, glob = "*.dat")
    val gated = Files.markerGated(files, Files.listMarkers(s, DropboxFixtureDir))
    Files.pathSegments(gated, DropboxFixtureDir, Seq("run", "kind", "member"))
      .filter(!col("kind").isin(NanoKinds: _*))
      .select(col("run"), col("kind"), col("member"), col("length"),
        sha2(col("content"), 256).as("sha"))
      .orderBy("run", "kind", "member")
  }

  private val binarySql = {
    val bl = NanoKinds.map(k => s"'$k'").mkString(", ")
    s"""WITH files AS (
       |  SELECT filename, size, sha256(CAST(content AS VARCHAR)) AS sha
       |  FROM read_blob('$DropboxFixtureDir/**/*.dat')),
       |segs AS (
       |  SELECT string_split(replace(filename, '$DropboxFixtureDir/', ''), '/') AS p,
       |         size, sha FROM files),
       |r AS (SELECT p[1] AS run, p[2] AS kind, p[3] AS member,
       |             size AS length, sha FROM segs),
       |markers AS (
       |  SELECT replace(string_split(filename, '/')[-1], '.MARKER_is_finished_', '') AS target
       |  FROM read_blob('$DropboxFixtureDir/.MARKER_is_finished_*'))
       |SELECT run, kind, member, length, sha FROM r
       |WHERE kind NOT IN ($bl) AND run IN (SELECT target FROM markers)
       |ORDER BY run, kind, member""".stripMargin
  }

  // ------------------------------------------------------------- Q-pathdb
  // S13 as a REAL JDBC roundtrip: the path-info analog table is published
  // into an embedded Derby database and read back through Jdbc.readTable
  // (the actual spark.read.jdbc path, reporting-plugins/query-files/
  // script.py:1-8), with the predicate pushed into the database. The
  // oracle runs the equivalent SQL on the source parquet — if the JDBC
  // write or read mangled anything, the hashes diverge.
  private val DerbyUrl = s"jdbc:derby:$FixtureRoot/pathdb;create=true"

  def pathDb(s: SparkSession, dir: String): DataFrame = {
    val src = load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    src.write.mode("overwrite").jdbc(DerbyUrl, "pathinfo",
      new java.util.Properties)
    Jdbc.readTable(s, DerbyUrl, "pathinfo")
      .filter(col("n_regionkey") < 3) // pushed into Derby by the source
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy("n_nationkey")
  }

  private val pathDbSql =
    s"""SELECT n_nationkey, n_name, n_regionkey FROM nation
       |WHERE n_regionkey < 3 ORDER BY n_nationkey""".stripMargin

  // ----------------------------------------------------------- registry
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_lookup" -> (lookup _),
    "q_route" -> (route _),
    "q_validate" -> (validate _),
    "q_join_hash" -> (joinHash _),
    "q_anti" -> (anti _),
    "q_lineage" -> (lineage _),
    "q_lineage_roots" -> (lineageRoots _),
    "q_groupcount" -> (groupCount _),
    "q_maxid" -> (maxId _),
    "q_report" -> (report _),
    "q_dates" -> (dates _),
    "q_dedup" -> (dedupExact _),
    "q_neardup_ngram" -> (nearDupNgram _),
    "q_neardup_minhash" -> (nearDupMinhash _),
    "q_dedup_incr" -> (dedupIncrQ _),
    "q_simhash" -> (simhash _),
    "q_knn" -> (knn _),
    "q_mmr" -> (mmrQ _),
    "q_tokens" -> (tokensQ _),
    "q_quality" -> (quality _),
    "q_langid" -> (langId _),
    "q_langid2" -> (langId2 _),
    "q_fingerprint" -> (fingerprint _),
    "q_json" -> (jsonExtract _),
    "q_kv" -> (keyValue _),
    "q_stream" -> (stream _),
    "q_multimodal" -> (multimodal _),
    "q_align" -> (align _),
    "q_upsert" -> (upsert _),
    "q_embdup" -> (embeddingDup _),
    "q_embdup_auto" -> (embeddingDupAuto _),
    "q_embdup_probe" -> (embeddingDupProbe _),
    "q_embdup_hi" -> (embeddingDupHi _),
    "q_sessions" -> (sessions _),
    "q_dedup_assign" -> (dedupAssign _),
    "q_cc_star" -> (ccStarQ _),
    "q_dsir" -> (dsirQ _),
    "q_gopher" -> (gopherQ _),
    "q_knn_pq" -> (knnPqQ _),
    "q_knn_ivfrr" -> (knnIvfRrQ _),
    "q_split" -> (splitQ _),
    "q_windows" -> (windows _),
    "q_curate" -> (curate _),
    "q_design_report" -> (designReport _),
    "q_descendants" -> (descendants _),
    "q_imaging" -> (imaging _),
    "q_mtb" -> (mtb _),
    "q_vcf" -> (vcf _),
    "q_manifest" -> (manifest _),
    "q_stempair" -> (stemPair _),
    "q_latest" -> (latestQ _),
    "q_mapops" -> (mapOpsQ _),
    "q_xml" -> (xmlQ _),
    "q_pathnorm" -> (pathNorm _),
    "q_whitelist" -> (whitelistQ _),
    "q_linescan" -> (lineScanQ _),
    "q_cel" -> (cel _),
    "q_pragmas" -> (pragmas _),
    "q_probe" -> (probe _),
    "q_hla" -> (hla _),
    "q_notes" -> (notes _),
    "q_tsv" -> (tsvRoundtrip _),
    "q_binary" -> (binaryDropbox _),
    "q_pathdb" -> (pathDb _),
    "q_repetition" -> (repetition _),
    "q_stream_dedup" -> (streamDedup _),
    "q_stream_join" -> (streamJoin _),
    "q_stream_outer" -> (streamOuter _),
    "q_stream_full" -> (streamFull _),
    "q_stream_semi" -> (streamSemi _),
    "q_stream_swindow" -> (streamSessionWindow _),
    "q_stream_scd2" -> (streamScd2 _),
    "q_stream_snap" -> (streamSnapQ _),
    "q_stream_mor" -> (streamMorQ _),
    "q_stream_mv" -> (streamMvQ _),
    "q_stream_joinagg" -> (streamJoinAgg _),
    "q_stream_debounce" -> (streamDebounce _),
    "q_tws_sessions" -> (twsSessions _),
    "q_sbo" -> (sboQ _),
    "q_knn_ivf" -> (knnIvf _),
    "q_knn_int8" -> (knnInt8Q _),
    "q_simhash_pairs" -> (simhashPairsQ _),
    "q_simhash64_pairs" -> (simhash64PairsQ _),
    "q_simhash_verified" -> (simhashVerifiedQ _),
    "q_embdup_exact" -> (embeddingDupExact _),
    "q_sample" -> (sampleQ _),
    "q_shard" -> (shardQ _),
    "q_quota" -> (quota _),
    "q_quantiles" -> (quantilesQ _),
    "q_range" -> (rangeQ _),
    "q_histogram" -> (histogramQ _),
    "q_bin" -> (binQ _),
    "q_cms" -> (cmsQ _),
    "q_bloom" -> (bloomQ _),
    "q_hashembed" -> (hashEmbedQ _),
    "q_classify" -> (classifyQ _),
    "q_groupsample" -> (groupSampleQ _),
    "q_mix" -> (mixQ _),
    "q_bpe" -> (bpeQ _),
    "q_bpe_apply" -> (bpeApplyQ _),
    "q_contam" -> (contam _),
    "q_pii" -> (pii _),
    "q_chunk" -> (chunkQ _),
    "q_pack" -> (pack _),
    "q_unicode" -> (unicode _),
    "q_vocab" -> (vocab _),
    "q_invindex" -> (invIndex _),
    "q_index_refresh" -> (indexRefreshQ _),
    "q_stream_index" -> (streamIndexQ _),
    "q_index_cdc" -> (indexCdcQ _),
    "q_search" -> (searchQ _),
    "q_bm25" -> (bm25Q _),
    "q_rrf" -> (rrfQ _),
    "q_bucketjoin" -> (bucketJoin _),
    "q_partprune" -> (partPrune _),
    "q_zorder" -> (zorderQ _),
    "q_linededup" -> (lineDedup _),
    "q_subdedup" -> (subDedup _),
    "q_winnow" -> (winnow _),
    "q_keywords" -> (keywords _),
    "q_lmscore" -> (lmScoreQ _),
    "q_kmeans" -> (kmeansQ _),
    "q_semdedup" -> (semDedupQ _),
    "q_semdedup_x" -> (semDedupXQ _),
    "q_stream_enrich" -> (streamEnrich _),
    "q_asof" -> (asof _),
    "q_asof_chunked" -> (asofChunked _),
    "q_props" -> (propsQ _),
    "q_dicom" -> (dicomQ _),
    "q_mail" -> (mailQ _),
    "q_cxx" -> (cxxQ _),
    "q_nmr" -> (nmrQ _),
    "q_copydataset" -> (copyDatasetQ _),
    "q_registry" -> (registryQ _),
    "q_qcml" -> (qcmlQ _),
    "q_epitope" -> (epitopeQ _),
    "q_ivac" -> (ivacQ _),
    "q_samplebatch" -> (sampleBatchQ _),
    "q_lifecycle" -> (lifecycleQ _),
    "q_msdropbox" -> (msDropboxQ _),
    "q_propupdate" -> (propUpdateQ _),
    "q_expbatch" -> (expBatchQ _),
    "q_pdf" -> (pdfQ _),
    "q_tpch5" -> (tpch5Q _),
    "q_tpch4" -> (tpch4Q _),
    "q_tpch17" -> (tpch17Q _),
    "q_tpch22" -> (tpch22Q _),
    "q_lateral" -> (lateralQ _),
    "q_tpch20" -> (tpch20Q _),
    "q_tpch2" -> (tpch2Q _),
    "q_tpch7" -> (tpch7Q _),
    "q_tpch8" -> (tpch8Q _),
    "q_tpch11" -> (tpch11Q _),
    "q_tpch12" -> (tpch12Q _),
    "q_tpch13" -> (tpch13Q _),
    "q_tpch15" -> (tpch15Q _),
    "q_tpch16" -> (tpch16Q _),
    "q_tpch18" -> (tpch18Q _),
    "q_tpch19" -> (tpch19Q _),
    "q_tpch21" -> (tpch21Q _),
    "q_tpch1" -> (tpch1Q _),
    "q_tpch3" -> (tpch3Q _),
    "q_tpch6" -> (tpch6Q _),
    "q_tpch9" -> (tpch9Q _),
    "q_tpch10" -> (tpch10Q _),
    "q_tpch14" -> (tpch14Q _),
    "q_swindow" -> (sessionWindowQ _),
    "q_jl" -> (jlQ _),
    "q_jlknn" -> (jlKnnQ _),
    "q_timetravel" -> (timeTravelQ _),
    "q_snapevolve" -> (snapEvolveQ _),
    "q_snapmerge" -> (snapMergeQ _),
    "q_snapreplace" -> (snapReplaceQ _),
    "q_snapmor" -> (snapMorQ _),
    "q_snapmor_rec" -> (snapMorRecQ _),
    "q_snapmor_del" -> (snapMorDelQ _),
    "q_snapmor_upd" -> (snapMorUpdQ _),
    "q_txn" -> (txnQ _),
    "q_txn_mor" -> (txnMorQ _),
    "q_txn_cdc" -> (txnCdcQ _),
    "q_txn_mv" -> (txnMvQ _),
    "q_txn_mv2" -> (txnMv2Q _),
    "q_txn_mv3" -> (txnMv3Q _),
    "q_txn_fold" -> (txnFoldQ _),
    "q_stream_txn" -> (streamTxnQ _),
    "q_mor_fold" -> (morFoldQ _),
    "q_snapwhere" -> (snapWhereQ _),
    "q_stream_cdc" -> (streamCdcQ _),
    "q_wap" -> (wapQ _),
    "q_cdf" -> (cdfQ _),
    "q_snapmv" -> (snapMvQ _),
    "q_snapdropcol" -> (snapDropColQ _),
    "q_snaphistory" -> (snapHistoryQ _),
    "q_snapdelta" -> (snapDeltaQ _),
    "q_snapskip" -> (snapSkipQ _),
    "q_snapcompact" -> (snapCompactQ _),
    "q_snapzorder" -> (snapZorderQ _),
    "q_scenecut" -> (sceneCutQ _),
    "q_snappoint" -> (snapPointQ _),
    "q_snappoint_app" -> (snapPointAppQ _),
    "q_snappoint_mor" -> (snapPointMorQ _),
    "q_cxxpush" -> (cxxPushQ _),
    "q_phash" -> (phashQ _),
    "q_urlnorm" -> (urlNorm _),
    "q_html" -> (htmlQ _),
    "q_anchor" -> (anchorQ _),
    "q_blocklist" -> (blocklistQ _),
    "q_diff" -> (diffQ _),
    "q_rollup" -> (rollupQ _),
    "q_cube" -> (cubeQ _),
    "q_rank" -> (rankQ _),
    "q_corr" -> (corrQ _),
    "q_ols" -> (olsQ _),
    "q_pmi" -> (pmiQ _),
    "q_gapfill" -> (gapFillQ _),
    "q_scd2" -> (scd2Q _),
    "q_fuzzy" -> (fuzzyQ _),
    "q_evolve" -> (evolveQ _),
    "q_negsample" -> (negSampleQ _),
    "q_orc" -> (orcQ _),
    "q_triangles" -> (trianglesQ _),
    "q_labelprop" -> (labelPropQ _),
    "q_bfs" -> (bfsQ _),
    "q_hll" -> (hllQ _),
    "q_rolling" -> (rollingQ _),
    "q_anomaly" -> (anomalyQ _),
    "q_skyline" -> (skylineQ _),
    "q_intervals" -> (intervalsQ _),
    "q_compact" -> (compactQ _),
    "q_frames" -> (framesQ _),
    "q_markov" -> (markovQ _),
    "q_bloomjoin" -> (bloomJoinQ _),
    "q_ivm" -> (ivmQ _),
    "q_topk" -> (topkQ _),
    "q_diversity" -> (diversityQ _),
    "q_overlap" -> (overlapQ _),
    "q_features" -> (featuresQ _),
    "q_audio" -> (audioQ _),
    "q_churn" -> (churnQ _),
    "q_skewstats" -> (skewStatsQ _),
    "q_winsor" -> (winsorQ _),
    "q_profile" -> (profileQ _),
    "q_threads" -> (threadsQ _),
    "q_debounce" -> (debounceQ _),
    "q_pivot" -> (pivotQ _),
    "q_funnel" -> (funnelQ _),
    "q_stream_funnel" -> (streamFunnelQ _),
    "q_cohort" -> (cohortQ _),
    "q_pagerank" -> (pageRankQ _),
    "q_skew" -> (skewQ _))

  val oracles: Map[String, String] = Map(
    "q_lookup" -> lookupSql,
    "q_route" -> routeSql,
    "q_validate" -> validateSql,
    "q_join_hash" -> joinHashSql,
    "q_anti" -> antiSql,
    "q_lineage" -> lineageSql,
    "q_lineage_roots" -> lineageRootsSql,
    "q_groupcount" -> groupCountSql,
    "q_maxid" -> maxIdSql,
    "q_report" -> reportSql,
    "q_dates" -> datesSql,
    "q_dedup" -> dedupExactSql,
    "q_neardup_ngram" -> nearDupNgramSql,
    "q_neardup_minhash" -> nearDupMinhashSql,
    "q_dedup_incr" -> dedupIncrSql,
    "q_simhash" -> simhashSql,
    "q_knn" -> knnSql,
    "q_mmr" -> mmrSql,
    "q_tokens" -> tokensSql,
    "q_quality" -> qualitySql,
    "q_langid" -> langIdSql,
    "q_langid2" -> langId2Sql,
    "q_fingerprint" -> fingerprintSql,
    "q_json" -> jsonSql,
    "q_kv" -> keyValueSql,
    "q_stream" -> streamSql,
    "q_multimodal" -> multimodalSql,
    "q_align" -> alignSql,
    "q_upsert" -> upsertSql,
    "q_embdup" -> embeddingDupSql,
    "q_embdup_auto" -> embeddingDupAutoSql,
    "q_embdup_probe" -> embeddingDupProbeSql,
    "q_embdup_hi" -> embeddingDupHiSql,
    "q_sessions" -> sessionsSql,
    "q_dedup_assign" -> dedupAssignSql,
    "q_cc_star" -> dedupAssignSql,
    "q_dsir" -> dsirSql,
    "q_gopher" -> gopherSql,
    "q_knn_pq" -> knnPqSql,
    "q_knn_ivfrr" -> knnIvfRrSql,
    "q_split" -> splitSql,
    "q_windows" -> windowsSql,
    "q_curate" -> curateSql,
    "q_design_report" -> designReportSql,
    "q_descendants" -> descendantsSql,
    "q_imaging" -> imagingSql,
    "q_mtb" -> mtbSql,
    "q_vcf" -> vcfSql,
    "q_manifest" -> manifestSql,
    "q_stempair" -> stemPairSql,
    "q_latest" -> latestSql,
    "q_mapops" -> mapOpsSql,
    "q_xml" -> xmlSql,
    "q_pathnorm" -> pathNormSql,
    "q_whitelist" -> whitelistSql,
    "q_linescan" -> lineScanSql,
    "q_cel" -> celSql,
    "q_pragmas" -> pragmasSql,
    "q_probe" -> probeSql,
    "q_hla" -> hlaSql,
    "q_notes" -> notesSql,
    "q_tsv" -> tsvSql,
    "q_binary" -> binarySql,
    "q_pathdb" -> pathDbSql,
    "q_repetition" -> repetitionSql,
    "q_stream_dedup" -> streamDedupSql,
    "q_stream_join" -> streamJoinSql,
    "q_stream_outer" -> streamOuterSql,
    "q_stream_full" -> streamFullSql,
    "q_stream_semi" -> streamSemiSql,
    "q_stream_swindow" -> sessionWindowSql, // twin: one truth, two runtimes
    "q_stream_scd2" -> streamScd2Sql,
    "q_stream_snap" -> streamSnapSql,
    "q_stream_mor" -> streamMorSql,
    "q_stream_mv" -> streamMvSql,
    "q_stream_joinagg" -> streamJoinAggSql,
    "q_stream_debounce" -> streamDebounceSql,
    "q_tws_sessions" -> twsSessionsSql,
    "q_sbo" -> sboSql,
    "q_knn_ivf" -> knnIvfSql,
    "q_knn_int8" -> knnInt8Sql,
    "q_simhash_pairs" -> simhashPairsSql,
    "q_simhash64_pairs" -> simhash64PairsSql,
    "q_simhash_verified" -> simhashVerifiedSql,
    "q_embdup_exact" -> embeddingDupExactSql,
    "q_sample" -> sampleSql,
    "q_shard" -> shardSql,
    "q_quota" -> quotaSql,
    "q_quantiles" -> quantilesSql,
    "q_range" -> rangeSql,
    "q_histogram" -> histogramSql,
    "q_bin" -> binSql,
    "q_cms" -> cmsSql,
    "q_bloom" -> bloomSql,
    "q_hashembed" -> hashEmbedSql,
    "q_classify" -> classifySql,
    "q_groupsample" -> groupSampleSql,
    "q_mix" -> mixSql,
    "q_bpe" -> bpeSql,
    "q_bpe_apply" -> bpeApplySql,
    "q_contam" -> contamSql,
    "q_pii" -> piiSql,
    "q_chunk" -> chunkSql,
    "q_pack" -> packSql,
    "q_unicode" -> unicodeSql,
    "q_vocab" -> vocabSql,
    "q_invindex" -> invIndexSql,
    "q_index_refresh" -> invIndexSql, // refresh must equal the full rebuild
    "q_stream_index" -> invIndexSql, // streamed refresh: same contract
    "q_index_cdc" -> invIndexSql, // manifest-CDC refresh: same contract
    "q_search" -> searchSql,
    "q_bm25" -> bm25Sql,
    "q_rrf" -> rrfSql,
    "q_bucketjoin" -> bucketJoinSql,
    "q_partprune" -> partPruneSql,
    "q_zorder" -> zorderSql,
    "q_linededup" -> lineDedupSql,
    "q_subdedup" -> subDedupSql,
    "q_winnow" -> winnowSql,
    "q_keywords" -> keywordsSql,
    "q_lmscore" -> lmScoreSql,
    "q_kmeans" -> kmeansSql,
    "q_semdedup" -> semDedupSql,
    "q_semdedup_x" -> semDedupXSql,
    "q_stream_enrich" -> streamEnrichSql,
    "q_asof" -> asofSql,
    "q_asof_chunked" -> asofSql, // same truth, different engine plan
    "q_props" -> propsSql,
    "q_dicom" -> dicomSql,
    "q_mail" -> mailSql,
    "q_cxx" -> cxxSql,
    "q_nmr" -> nmrSql,
    "q_copydataset" -> copyDatasetSql,
    "q_registry" -> registrySql,
    "q_qcml" -> qcmlSql,
    "q_epitope" -> epitopeSql,
    "q_ivac" -> ivacSql,
    "q_samplebatch" -> sampleBatchSql,
    "q_lifecycle" -> lifecycleSql,
    "q_msdropbox" -> msDropboxSql,
    "q_propupdate" -> propUpdateSql,
    "q_expbatch" -> expBatchSql,
    "q_pdf" -> pdfSql,
    "q_tpch5" -> Tpch5Sql,
    "q_tpch4" -> Tpch4Sql,
    "q_tpch17" -> Tpch17Sql,
    "q_tpch22" -> Tpch22Sql,
    "q_lateral" -> LateralSql,
    "q_tpch20" -> Tpch20Sql,
    "q_tpch2" -> Tpch2Sql,
    "q_tpch7" -> Tpch7Sql,
    "q_tpch8" -> Tpch8Sql,
    "q_tpch11" -> Tpch11Sql,
    "q_tpch12" -> Tpch12Sql,
    "q_tpch13" -> Tpch13Sql,
    "q_tpch15" -> Tpch15Sql,
    "q_tpch16" -> Tpch16Sql,
    "q_tpch18" -> Tpch18Sql,
    "q_tpch19" -> Tpch19Sql,
    "q_tpch21" -> Tpch21Sql,
    "q_tpch1" -> Tpch1Sql,
    "q_tpch3" -> Tpch3Sql,
    "q_tpch6" -> Tpch6Sql,
    "q_tpch9" -> Tpch9Sql,
    "q_tpch10" -> Tpch10Sql,
    "q_tpch14" -> Tpch14Sql,
    "q_swindow" -> sessionWindowSql,
    "q_jl" -> jlSql,
    "q_jlknn" -> jlKnnSql,
    "q_timetravel" -> timeTravelSql,
    "q_snapevolve" -> snapEvolveSql,
    "q_snapmerge" -> snapMergeSql,
    "q_snapreplace" -> snapReplaceSql,
    "q_snapmor" -> snapMorSql,
    "q_snapmor_rec" -> snapMorSql,
    "q_snapmor_del" -> snapMorDelSql,
    "q_snapmor_upd" -> snapMorUpdSql,
    "q_txn" -> txnSql,
    "q_txn_mor" -> txnMorSql,
    "q_txn_cdc" -> txnCdcSql,
    "q_txn_mv" -> txnMvSql,
    "q_txn_mv2" -> txnMv2Sql,
    "q_txn_mv3" -> txnMv3Sql,
    "q_txn_fold" -> txnFoldSql,
    "q_stream_txn" -> streamTxnSql,
    "q_mor_fold" -> morFoldSql,
    "q_snapwhere" -> snapWhereSql,
    "q_stream_cdc" -> streamCdcSql,
    "q_wap" -> wapSql,
    "q_cdf" -> cdfSql,
    "q_snapmv" -> snapMvSql,
    "q_snapdropcol" -> snapDropColSql,
    "q_snaphistory" -> snapHistorySql,
    "q_snapdelta" -> snapDeltaSql,
    "q_snapskip" -> snapSkipSql,
    "q_snapcompact" -> snapCompactSql,
    "q_snapzorder" -> snapZorderSql,
    "q_scenecut" -> sceneCutSql,
    "q_snappoint" -> snapPointSql,
    "q_snappoint_app" -> snapPointAppSql,
    "q_snappoint_mor" -> snapPointMorSql,
    "q_cxxpush" -> cxxPushSql,
    "q_phash" -> phashSql,
    "q_urlnorm" -> urlNormSql,
    "q_html" -> htmlSql,
    "q_anchor" -> anchorSql,
    "q_blocklist" -> blocklistSql,
    "q_diff" -> diffSql,
    "q_rollup" -> rollupSql,
    "q_cube" -> cubeSql,
    "q_rank" -> rankSql,
    "q_corr" -> corrSql,
    "q_ols" -> olsSql,
    "q_pmi" -> pmiSql,
    "q_gapfill" -> gapFillSql,
    "q_scd2" -> scd2Sql,
    "q_fuzzy" -> fuzzySql,
    "q_evolve" -> evolveSql,
    "q_negsample" -> negSampleSql,
    "q_orc" -> orcSql,
    "q_triangles" -> trianglesSql,
    "q_labelprop" -> labelPropSql,
    "q_bfs" -> bfsSql,
    "q_hll" -> hllSql,
    "q_rolling" -> rollingSql,
    "q_anomaly" -> anomalySql,
    "q_skyline" -> skylineSql,
    "q_intervals" -> intervalsSql,
    "q_compact" -> compactSql,
    "q_frames" -> framesSql,
    "q_markov" -> markovSql,
    "q_bloomjoin" -> bloomJoinSql,
    "q_ivm" -> ivmSql,
    "q_topk" -> topkSql,
    "q_diversity" -> diversitySql,
    "q_overlap" -> overlapSql,
    "q_features" -> featuresSql,
    "q_audio" -> audioSql,
    "q_churn" -> churnSql,
    "q_skewstats" -> skewStatsSql,
    "q_winsor" -> winsorSql,
    "q_profile" -> profileSql,
    "q_threads" -> threadsSql,
    "q_debounce" -> debounceSql,
    "q_pivot" -> pivotSql,
    "q_funnel" -> funnelSql,
    // same truth as the batch funnel: one semantics, two execution modes
    "q_stream_funnel" -> funnelSql,
    "q_cohort" -> cohortSql,
    "q_pagerank" -> pageRankSql,
    "q_skew" -> skewSql)
}
