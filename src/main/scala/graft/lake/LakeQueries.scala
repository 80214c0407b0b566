package graft.lake

import graft.{Q, ScratchDir, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-visible demonstration of the versioned dataset layer: runs a
  * deterministic CRUD+time-travel scenario against a scratch dataset seeded
  * from the `nation` table and returns a per-version summary. Rows-only
  * check by the driver; full semantics are pinned by LakeDatasetSpec. */
object LakeQueries {

  /** The scenario summary is fully derivable from `nation` (delete hits
    * region 2; update hits keys <5 that survived the delete; the merge's
    * two keys are 0 = matched-if-alive and 99 = always inserted; restore
    * returns to the full load), so DuckDB states the expected counts
    * directly — hash-equal iff every DML op touched exactly the rows its
    * predicate describes AND restore recovered the tagged version. */
  val versionedCrud: Q = Q(
    "lake_versioned_crud",
    """WITH d AS (SELECT count(*) AS nd FROM nation WHERE n_regionkey = 2),
      |u AS (SELECT count(*) AS nu FROM nation
      |      WHERE n_nationkey < 5 AND n_regionkey <> 2),
      |m0 AS (SELECT count(*) AS m FROM nation
      |       WHERE n_nationkey = 0 AND n_regionkey <> 2),
      |n AS (SELECT count(*) AS total FROM nation)
      |SELECT CAST(7 AS BIGINT) AS n_versions,
      |  CAST(n.total - d.nd + (2 - m0.m) AS BIGINT) AS rows_before_restore,
      |  CAST(d.nd AS BIGINT) AS n_deleted,
      |  CAST(u.nu AS BIGINT) AS n_updated,
      |  CAST(m0.m AS BIGINT) AS n_merge_matched,
      |  CAST(2 - m0.m AS BIGINT) AS n_merge_inserted,
      |  CAST(n.total AS BIGINT) AS rows_after_restore
      |FROM d, u, m0, n""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-demo-")
    val nation = Tables.load(s, dir, "nation")
    val ds = LakeDataset.create(s, root, StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))))
    ds.append(nation.filter(col("n_nationkey") < 20).coalesce(1))
    ds.append(nation.filter(col("n_nationkey") >= 20).coalesce(1))
    ds.createTag("loaded")
    val deleted = ds.delete("n_regionkey = 2")
    val updated = ds.update("n_nationkey < 5", Map("n_name" -> "upper(n_name)"))
    val (matched, inserted) = ds.mergeInsert(
      s.createDataFrame(
        java.util.List.of(
          Row(Integer.valueOf(0), "MERGED", Integer.valueOf(9)),
          Row(Integer.valueOf(99), "NEW_NATION", Integer.valueOf(9))),
        ds.schema),
      keys = Seq("n_nationkey"))
    val preRestore = ds.read().count()
    ds.restore(ds.tags("loaded"))
    val restoredCount = ds.read().count()
    // deterministic one-row summary of the whole scenario
    import s.implicits._
    Seq((ds.versions.size.toLong, preRestore, deleted, updated, matched,
      inserted, restoredCount))
      .toDF("n_versions", "rows_before_restore", "n_deleted", "n_updated",
        "n_merge_matched", "n_merge_inserted", "rows_after_restore")
  }

  /** SQL reads a lake table through the DSv2 door (`USING lake`): seed a
    * scratch dataset with the exact content of `nation`, then query it via
    * `spark.sql`. The DuckDB oracle runs the same relational query against
    * the original parquet — hash-equal iff the lake roundtrip (append →
    * manifest → DSv2 scan with zonemap pruning) is lossless. */
  val dsv2Read: Q = Q(
    "lake_dsv2_read",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_regionkey >= 2 ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-dsv2-")
    val nation = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    nation.filter(col("n_nationkey") < 13).coalesce(1)
      .write.format("lake").mode("append").save(root)
    nation.filter(col("n_nationkey") >= 13).coalesce(1)
      .write.format("lake").mode("append").save(root)
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW lake_nation
             |USING lake OPTIONS (path '$root')""".stripMargin)
    s.sql("""SELECT n_nationkey, n_name, n_regionkey FROM lake_nation
            |WHERE n_regionkey >= 2 ORDER BY n_nationkey""".stripMargin)
  }

  // An index is built once and searched many times; memoize the indexed
  // dataset root per (session, key) — same precedent as Ann's ivfCache,
  // except the state here is a path string (the index itself is on disk),
  // so there is nothing to sweep between bench queries.
  private val indexedRoots = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]())

  /** The first `vec_id < 5000` embeddings in a lake dataset indexed by
    * `index`, built once per (session, key), and the query vector of
    * vec_id 0. A bounded deterministic corpus: the demo exercises the full
    * persisted path (create → train → encode → search) at a fixed cost
    * regardless of SF; recall/footprint at scale are the index specs'
    * job. */
  private def indexedEmbeddings(s: org.apache.spark.sql.SparkSession,
      dir: String, key: String)(index: LakeDataset => Unit)
      : (LakeDataset, Seq[Float]) = {
    val emb = Tables.load(s, dir, "embeddings")
      .select("vec_id", "label", "embedding")
      .filter(col("vec_id") < 5000)
    val root = indexedRoots
      .computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap)
      .computeIfAbsent(s"$key:$dir", _ => {
        val r = ScratchDir(s"lake-$key-")
        val ds = LakeDataset.create(s, r, emb.schema)
        ds.append(emb.coalesce(1))
        index(ds)
        r
      })
    (LakeDataset.open(s, root), emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0))
  }

  /** IVF-PQ over a lake dataset: build a persisted product-quantized index
    * on the embeddings corpus, then search one query through probed
    * clusters → byte-code ADC ranking → exact re-rank. Deterministic
    * (seeded init, fixed data); rows-only driver check, recall pinned by
    * VectorIndexSpec. */
  private def quantizedTopK(quantizer: String, nprobe: Int = 4,
      probeVia: String = "exact"): (
      org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    (s, dir) => {
      val (ds, q) = indexedEmbeddings(s, dir, quantizer)(
        VectorIndex.build(_, "embedding", name = s"ivf$quantizer",
          quantizer = quantizer))
      VectorIndex.search(ds, "embedding", q, k = 10, nprobe = nprobe,
        name = s"ivf$quantizer", probeVia = probeVia)
        .select("vec_id", "label", "similarity")
    }

  val ivfPq: Q = Q.noOracle("ann_ivfpq_topk")(quantizedTopK("pq"))

  /** IVF-HNSW hybrid (reference storage2/ivf_hnsw_index.go): cluster
    * selection walks an HNSW graph over the centroids instead of scoring
    * them all. With nprobe = NumClusters and ≤ M+1 centroids the graph is
    * complete, so the probe is provably exhaustive and the result is the
    * exact top-k — which makes plain SQL a valid oracle for the persisted
    * index + graph-probe + rank pipeline (the [[graft.pipeline.Ann.ivfExhaustive]]
    * pattern). The approximate regimes (graph probe over 10⁵+ centroids,
    * beam recall) are HnswSpec/VectorIndexSpec's job. */
  val ivfHnsw: Q = Q(
    "ann_ivfhnsw_topk",
    """WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
      |scored AS (SELECT e.vec_id, e.label,
      |             list_cosine_similarity(e.embedding, q.qvec) AS sim
      |           FROM embeddings e, q WHERE e.vec_id < 5000)
      |SELECT vec_id, label, round(sim, 4) AS similarity
      |FROM scored ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)(
    quantizedTopK("flat", nprobe = VectorIndex.DefaultClusters,
      probeVia = "hnsw"))

  /** Persisted sharded-HNSW search (reference hnsw_index.go through the
    * KNNIndexManager persistence surface): create → build shard graphs →
    * search through the stored adjacency. Approximate by nature (beam
    * recall), so no SQL oracle — HnswIndexSpec pins recall, refresh, and
    * delete-safety. */
  val hnswIdx: Q = Q.noOracle("ann_hnswidx_topk") { (s, dir) =>
    val (ds, q) = indexedEmbeddings(s, dir, "hnsw")(
      HnswIndex.build(_, "embedding"))
    HnswIndex.search(ds, "embedding", q, k = 10)
      .select("vec_id", "label", "similarity")
  }

  /** IVF-SQ: per-dimension uint8 scalar quantization (4× smaller codes,
    * near-lossless ranking) + exact re-rank. */
  val ivfSq: Q = Q.noOracle("ann_sq_topk")(quantizedTopK("sq"))

  /** IVF-BQ: sign-bit binary quantization (32× smaller codes), Hamming
    * pre-rank + exact re-rank. */
  val ivfBq: Q = Q.noOracle("ann_bq_topk")(quantizedTopK("bq"))

  /** Name-based SQL through the [[LakeCatalog]]: CREATE TABLE + INSERT
    * from `nation`, then SELECT by catalog-qualified name. Oracle replays
    * the same relational query on the original parquet — hash-equal iff
    * catalog DDL + insert + catalog scan are lossless. */
  val catalogRead: Q = Q(
    "lake_catalog_read",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_nationkey % 2 = 0 ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-cat-")
    val cat = s"lakeq_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"""CREATE TABLE $cat.db.nation
             |(n_nationkey INT, n_name STRING, n_regionkey INT)""".stripMargin)
    Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey").coalesce(1)
      .writeTo(s"$cat.db.nation").append()
    s.sql(s"""SELECT n_nationkey, n_name, n_regionkey FROM $cat.db.nation
             |WHERE n_nationkey % 2 = 0 ORDER BY n_nationkey""".stripMargin)
  }

  /** SQL DML through the catalog: UPDATE (group-based row-level rewrite),
    * MERGE INTO (matched update + not-matched insert), and a non-pushable
    * DELETE (LIKE → rewrite path, not SupportsDelete). The DuckDB oracle
    * replays the same sequence on a temp table (MERGE emulated as
    * UPDATE + INSERT — DuckDB 1.0 has no MERGE) — hash-equal iff every
    * copy-on-write rewrite preserved untouched rows and applied exactly the
    * SQL semantics. */
  val sqlDml: Q = Q(
    "lake_sql_dml",
    """CREATE OR REPLACE TEMP TABLE lake_dml_scratch AS
      |  SELECT n_nationkey, n_name, n_regionkey FROM nation;
      |UPDATE lake_dml_scratch SET n_name = lower(n_name) WHERE n_regionkey = 1;
      |UPDATE lake_dml_scratch SET n_name = 'ZERO', n_regionkey = 9
      |  WHERE n_nationkey = 0;
      |INSERT INTO lake_dml_scratch VALUES (99, 'NEW_NATION', 9);
      |DELETE FROM lake_dml_scratch WHERE n_name LIKE 'A%';
      |SELECT n_nationkey, n_name, n_regionkey FROM lake_dml_scratch
      |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-dml-")
    val cat = s"lakedml_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"""CREATE TABLE $cat.db.n
             |(n_nationkey INT, n_name STRING, n_regionkey INT)""".stripMargin)
    Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      // two fragments so the pushable UPDATE can demonstrate group pruning
      .repartitionByRange(2, col("n_nationkey"))
      .writeTo(s"$cat.db.n").append()
    s.sql(s"""UPDATE $cat.db.n SET n_name = lower(n_name)
             |WHERE n_regionkey = 1""".stripMargin)
    s.sql(s"""MERGE INTO $cat.db.n t
             |USING (SELECT * FROM VALUES (0, 'ZERO', 9), (99, 'NEW_NATION', 9)
             |       AS v(k, nm, rk)) src
             |ON t.n_nationkey = src.k
             |WHEN MATCHED THEN UPDATE SET n_name = src.nm, n_regionkey = src.rk
             |WHEN NOT MATCHED THEN
             |  INSERT (n_nationkey, n_name, n_regionkey)
             |  VALUES (src.k, src.nm, src.rk)""".stripMargin)
    s.sql(s"DELETE FROM $cat.db.n WHERE n_name LIKE 'A%'")
    s.sql(s"""SELECT n_nationkey, n_name, n_regionkey FROM $cat.db.n
             |ORDER BY n_nationkey""".stripMargin)
  }

  /** The same DML sequence as [[sqlDml]] but on a `write.dml.mode = mor`
    * table: UPDATE/DELETE become rowid tombstones + delta fragments
    * (SupportsDelta) instead of fragment rewrites. Same oracle — the two
    * storage strategies must be observationally identical. */
  val sqlDmlMor: Q = Q(
    "lake_sql_dml_mor",
    """CREATE OR REPLACE TEMP TABLE lake_mor_scratch AS
      |  SELECT n_nationkey, n_name, n_regionkey FROM nation;
      |UPDATE lake_mor_scratch SET n_name = lower(n_name) WHERE n_regionkey = 1;
      |UPDATE lake_mor_scratch SET n_name = 'ZERO', n_regionkey = 9
      |  WHERE n_nationkey = 0;
      |INSERT INTO lake_mor_scratch VALUES (99, 'NEW_NATION', 9);
      |DELETE FROM lake_mor_scratch WHERE n_name LIKE 'A%';
      |SELECT n_nationkey, n_name, n_regionkey FROM lake_mor_scratch
      |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-mor-")
    val cat = s"lakemor_${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.lake.LakeCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    s.sql(s"""CREATE TABLE $cat.db.n
             |(n_nationkey INT, n_name STRING, n_regionkey INT)
             |TBLPROPERTIES ('write.dml.mode' = 'mor')""".stripMargin)
    Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .repartitionByRange(2, col("n_nationkey"))
      .writeTo(s"$cat.db.n").append()
    s.sql(s"""UPDATE $cat.db.n SET n_name = lower(n_name)
             |WHERE n_regionkey = 1""".stripMargin)
    s.sql(s"""MERGE INTO $cat.db.n t
             |USING (SELECT * FROM VALUES (0, 'ZERO', 9), (99, 'NEW_NATION', 9)
             |       AS v(k, nm, rk)) src
             |ON t.n_nationkey = src.k
             |WHEN MATCHED THEN UPDATE SET n_name = src.nm, n_regionkey = src.rk
             |WHEN NOT MATCHED THEN
             |  INSERT (n_nationkey, n_name, n_regionkey)
             |  VALUES (src.k, src.nm, src.rk)""".stripMargin)
    s.sql(s"DELETE FROM $cat.db.n WHERE n_name LIKE 'A%'")
    s.sql(s"""SELECT n_nationkey, n_name, n_regionkey FROM $cat.db.n
             |ORDER BY n_nationkey""".stripMargin)
  }

  /** Z-order layout: seed a scratch dataset from `lineitem` (two
    * independent key columns), rewrite with
    * [[LakeDataset.optimizeLayoutZOrder]], and return the PRUNED SCANS'
    * results — count and quantity sum per predicate class — which the
    * DuckDB oracle recomputes from first principles (pruning must never
    * change answers). The pruning guarantees themselves are in-run
    * `require`s (the lake_mv_join_rewrite precedent): BOTH single-column
    * predicates must skip at least half the fragments — a lexicographic
    * sort serves only its leading column and fails the second bound —
    * with exact layout counts unportable by construction (approxQuantile
    * cuts + RangePartitioner sampling are Spark-internal). ZOrderSpec
    * pins the stronger scale guarantees. */
  val zorderPrune: Q = Q(
    "lake_zorder_prune",
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey, CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem WHERE l_orderkey < 1500)
      |SELECT
      |  (SELECT count(*) FROM li) AS n_rows,
      |  (SELECT CAST(count(*) AS BIGINT) FROM li WHERE l_orderkey < 100)
      |    AS cnt_ok,
      |  (SELECT CAST(sum(qty) AS BIGINT) FROM li WHERE l_orderkey < 100)
      |    AS qty_ok,
      |  (SELECT CAST(count(*) AS BIGINT) FROM li WHERE l_partkey < 100)
      |    AS cnt_pk,
      |  (SELECT CAST(sum(qty) AS BIGINT) FROM li WHERE l_partkey < 100)
      |    AS qty_pk""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-zorder-")
    // bounded deterministic corpus (the PQ-demo precedent): the demo
    // exercises create → quantile pass → z-rewrite → pruned scans at a
    // fixed cost regardless of SF; scale guarantees are ZOrderSpec's job
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_orderkey") < 1500)
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("qty"))
    val ds = LakeDataset.create(s, root, li.schema)
    ds.append(li.coalesce(4))
    val rows = ds.read().count()
    ds.optimizeLayoutZOrder(Seq("l_orderkey", "l_partkey"),
      targetRows = math.max(256, rows / 16))
    val n = ds.manifest.fragments.size
    val byOk = ds.prunedFileCount("l_orderkey < 100")
    val byPk = ds.prunedFileCount("l_partkey < 100")
    // Both single-column predicates must prune (measured at sf0.01:
    // 10/17 and 8/17 scanned — Morton intervals are unaligned, so the
    // per-fragment x/y extent is up to 2·sqrt(interval) ranks wide; the
    // bound is 4/5 with that headroom). A lexicographic layout scans ALL
    // fragments for the second column and fails the byPk bound.
    require(n >= 8, s"z-rewrite must split the corpus ($n fragments)")
    require(byOk * 5 <= n * 4,
      s"orderkey predicate must skip >= 1/5 of the fragments ($byOk of $n)")
    require(byPk * 5 <= n * 4,
      s"partkey predicate must skip >= 1/5 of the fragments ($byPk of $n) " +
        "— a lexicographic layout fails exactly this bound")
    def stats(pred: String): (Long, Long) = {
      val r = ds.scanner().withFilter(pred).build()
        .agg(count(lit(1)), sum("qty")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val (cntOk, qtyOk) = stats("l_orderkey < 100")
    val (cntPk, qtyPk) = stats("l_partkey < 100")
    import s.implicits._
    Seq((rows, cntOk, qtyOk, cntPk, qtyPk))
      .toDF("n_rows", "cnt_ok", "qty_ok", "cnt_pk", "qty_pk")
  }

  /** Low-cardinality point lookup via the value-set (bitmap-style) index
    * (reference bitmap_index.go / index_selector.go): seed a lake table
    * from `part` hash-clustered on the 25-value `p_brand`, declare the
    * value-set index, and run an eq/IN lookup. In-run requires pin the
    * fast path at BOTH doors: `prunedFileCount` opens EXACTLY the
    * fragments whose complete value set contains the probed value(s)
    * (hash clustering leaves every fragment's zonemap [min,max] spanning
    * most of the brand range, so zonemaps alone cannot do this), a
    * lexically-in-range-but-absent value opens ZERO files, and the DSv2
    * SQL door reports the same scanned count via lastScan. The DuckDB
    * oracle recomputes the lookup's aggregate from the source parquet. */
  val pointLookup: Q = Q(
    "lake_pointlookup",
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(p_size) AS BIGINT) AS sum_size
      |FROM part WHERE p_brand IN ('Brand#13', 'Brand#22')
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-pl-")
    val src = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        col("p_size").cast("long").as("p_size"))
    val ds = LakeDataset.create(s, root, src.schema)
    ds.append(src.repartition(6, col("p_brand")))
    ds.enableValueSetIndex(Seq("p_brand"), maxDistinct = 32)
    val fid = ds.manifest.fields.find(_.name == "p_brand").get.id.toString
    val total = ds.manifest.fragments.size
    def holding(brands: String*): Int = ds.manifest.fragments.count(
      _.valueSets.get(fid).exists(vs => brands.exists(vs.contains)))
    val opened13 = ds.prunedFileCount("p_brand = 'Brand#13'")
    require(opened13 == holding("Brand#13") && opened13 < total,
      s"point lookup must open exactly the value-holding fragments " +
        s"($opened13 vs ${holding("Brand#13")} of $total)")
    // bitmap beats zonemap: 'Brand#199' sorts inside [Brand#1, Brand#9]
    // ranges but exists nowhere — membership prunes to zero files
    require(ds.prunedFileCount("p_brand = 'Brand#199'") == 0,
      "absent in-range value must open zero files")
    val q = s.read.format("lake").load(root)
      .filter(col("p_brand").isin("Brand#13", "Brand#22"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum("p_size").as("sum_size"))
      .orderBy("p_brand")
    q.collect() // force the scan so the DSv2 door records its pruning
    val (scanned, tot) = LakeDataSource.lastScan(root).getOrElse((-1, -1))
    require(tot == total && scanned == holding("Brand#13", "Brand#22"),
      s"DSv2 IN-lookup must open exactly the holding fragments " +
        s"($scanned of $tot vs ${holding("Brand#13", "Brand#22")})")
    q
  }

  /** Compaction through the public API (reference compaction_*.go): seed
    * a lake table as SIX one-file appends, plan groups, run the
    * coordinator-style parallel compaction, and return the full content —
    * which the DuckDB oracle restates from the source parquet, so the
    * rewrite is value-checked (any dropped/duplicated/reordered-into-
    * wrong-groups row hash-fails). In-run requires pin the physical
    * effect: a non-empty plan, and a strictly smaller fragment count
    * after. Rowid stability and race behavior stay in CompactionSpec. */
  val compaction: Q = Q(
    "lake_compaction",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-cpct-")
    val nation = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val ds = LakeDataset.create(s, root, nation.schema)
    (0 until 6).foreach { k =>
      ds.append(nation.filter(col("n_nationkey") % 6 === k).coalesce(1))
    }
    val before = ds.manifest.fragments.size
    val groups = ds.planCompaction(targetRows = 1000)
    require(before == 6 && groups.nonEmpty,
      s"expected 6 small fragments and a non-empty plan ($before, $groups)")
    val compacted = ds.compactAll(targetRows = 1000, parallelism = 2)
    val after = ds.manifest.fragments.size
    require(compacted > 0 && after < before,
      s"compaction must shrink the fragment count ($before -> $after)")
    ds.read().select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  /** Schema evolution through the public API: add a column, fill it with
    * DML, rename another, drop a third, and return the final table — the
    * DuckDB oracle restates the end state from the source parquet
    * (value-checked: a fill that misses rows, a rename that loses data,
    * or a drop that shifts columns all hash-fail). The full matrix
    * (type widening, clones, rowid stability) stays in
    * SchemaEvolutionSpec. */
  val schemaEvolution: Q = Q(
    "lake_schema_evolution",
    """SELECT n_nationkey, n_name AS nation_name,
      |  CAST(n_regionkey * 10 AS BIGINT) AS score
      |FROM nation ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-sev-")
    val nation = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val ds = LakeDataset.create(s, root, nation.schema)
    ds.append(nation.coalesce(2))
    ds.addColumns(StructType(Seq(StructField("score", LongType))))
    ds.update("n_nationkey >= 0", Map("score" -> "n_regionkey * 10"))
    ds.renameColumn("n_name", "nation_name")
    ds.dropColumns(Seq("n_regionkey"))
    require(ds.schema.fieldNames.toSeq ==
      Seq("n_nationkey", "nation_name", "score"),
      s"evolved schema mismatch: ${ds.schema.fieldNames.toSeq}")
    ds.read().select("n_nationkey", "nation_name", "score")
      .orderBy("n_nationkey")
  }

  /** Change data feed through the public API: seed a lake table from
    * `nation`, run a deterministic delete → update → append sequence, and
    * net the row-level changes between the loaded and final versions. The
    * DuckDB oracle states the expected feed directly against the original
    * parquet — hash-equal iff the manifest-diff CDF reports exactly the
    * rows each operation touched (rewritten-but-unchanged rows from the
    * copy-on-write fragments must collapse, or extra pre/post rows appear).
    */
  val changeFeed: Q = Q(
    "lake_change_feed",
    """WITH ch AS (
      |  SELECT 'delete' AS change_type, n_nationkey, n_name
      |  FROM nation WHERE n_regionkey = 2
      |  UNION ALL
      |  SELECT 'update_preimage', n_nationkey, n_name
      |  FROM nation WHERE n_nationkey < 5 AND n_regionkey <> 2
      |  UNION ALL
      |  SELECT 'update_postimage', n_nationkey, n_name || '!'
      |  FROM nation WHERE n_nationkey < 5 AND n_regionkey <> 2
      |  UNION ALL
      |  SELECT 'insert', n_nationkey + 100, n_name
      |  FROM nation WHERE n_nationkey >= 20)
      |SELECT change_type, n_nationkey, n_name FROM ch
      |ORDER BY change_type, n_nationkey""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-cdf-")
    val nation = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val ds = LakeDataset.create(s, root, nation.schema)
    ds.append(nation.coalesce(1))
    val vLoaded = ds.version
    ds.delete("n_regionkey = 2")
    ds.update("n_nationkey < 5 AND n_regionkey <> 2",
      Map("n_name" -> "concat(n_name, '!')"))
    ds.append(nation.filter(col("n_nationkey") >= 20)
      .withColumn("n_nationkey", col("n_nationkey") + lit(100))
      .coalesce(1))
    ds.changes(vLoaded, ds.version)
      .select(col("_change_type").as("change_type"),
        col("n_nationkey"), col("n_name"))
      .orderBy("change_type", "n_nationkey")
  }

  /** Aggregate pushdown through the DSv2 door: COUNT/MIN/MAX of a lake
    * copy of `nation` answered purely from manifest metadata (the plan
    * carries PushedAggregates and opens zero fragments — AggPushdownSpec
    * pins that; this entry pins the VALUES against DuckDB aggregating the
    * original parquet). */
  val aggPushdown: Q = Q(
    "lake_agg_pushdown",
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(n_name) AS BIGINT) AS n_names,
      |  CAST(min(n_nationkey) AS INT) AS min_key,
      |  CAST(max(n_nationkey) AS INT) AS max_key,
      |  min(n_name) AS min_name, max(n_name) AS max_name
      |FROM nation""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-aggpd-")
    val nation = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    nation.coalesce(1).write.format("lake").mode("append").save(root)
    s.read.format("lake").load(root).agg(
      count(lit(1)).as("n"), count(col("n_name")).as("n_names"),
      min("n_nationkey").cast("int").as("min_key"),
      max("n_nationkey").cast("int").as("max_key"),
      min("n_name").as("min_name"), max("n_name").as("max_name"))
  }

  /** Spatial kNN through [[SpatialIndex]] (reference rtree_index.go
    * NearestNeighbors): seed a point table from `events` (x = value,
    * y = user_id), z-order it so fragment bboxes are spatially tight, and
    * branch-and-bound the 15 nearest points to a fixed query point. The
    * distance formula uses only exactly-rounded IEEE ops, so the DuckDB
    * oracle computes bit-identical distances and the ×1e4 fixed-point
    * output hash-matches. Bounded corpus (event_id < 8000), the
    * zorderPrune precedent: demo cost is SF-independent; pruning
    * guarantees live in SpatialIndexSpec. */
  val spatialKnn: Q = Q(
    "lake_spatial_knn",
    """WITH e AS (SELECT event_id, value AS x, user_id AS y
      |           FROM events WHERE event_id < 8000),
      |d AS (SELECT event_id,
      |        sqrt((x - 120.0) * (x - 120.0) + (y - 40.0) * (y - 40.0))
      |          AS dist
      |      FROM e)
      |SELECT event_id, CAST(round(dist * 10000) AS BIGINT) AS dist_e4
      |FROM d ORDER BY dist, event_id LIMIT 15""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-spatial-")
    val pts = Tables.load(s, dir, "events")
      .filter(col("event_id") < 8000)
      .select(col("event_id"), col("value").as("x"), col("user_id").as("y"))
    val ds = LakeDataset.create(s, root, pts.schema)
    ds.append(pts.coalesce(4))
    ds.optimizeLayoutZOrder(Seq("x", "y"),
      targetRows = math.max(256, ds.read().count() / 16))
    SpatialIndex.knn(ds, "x", "y", px = 120.0, py = 40.0, k = 15,
        tieCol = "event_id")
      .select(col("event_id"),
        round(col("_dist") * 10000).cast("long").as("dist_e4"))
  }

  /** Spatial range search over box-valued rows (reference rtree_index.go
    * RangeSearch/ContainsSearch): synthesize a box per event
    * ([value, value+5] × [user_id, user_id+3]), z-order on the box minima,
    * and report every box intersecting the query window with a flag for
    * full containment. Intersect/contains compile to conjunctive range
    * predicates, so fragment skipping is the zonemap pruner's. */
  val spatialRange: Q = Q(
    "lake_spatial_range",
    """WITH b AS (SELECT event_id,
      |             value AS x_min, value + 5.0 AS x_max,
      |             user_id AS y_min, user_id + 3 AS y_max
      |           FROM events WHERE event_id < 8000)
      |SELECT event_id,
      |  (x_min >= 50.0 AND x_max <= 150.0 AND
      |   y_min >= 0.0 AND y_max <= 40.0) AS contained
      |FROM b
      |WHERE x_min <= 150.0 AND x_max >= 50.0
      |  AND y_min <= 40.0 AND y_max >= 0.0""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-spatial-")
    val boxes = Tables.load(s, dir, "events")
      .filter(col("event_id") < 8000)
      .select(col("event_id"),
        col("value").as("x_min"), (col("value") + 5.0).as("x_max"),
        col("user_id").as("y_min"), (col("user_id") + 3).as("y_max"))
    val ds = LakeDataset.create(s, root, boxes.schema)
    ds.append(boxes.coalesce(4))
    ds.optimizeLayoutZOrder(Seq("x_min", "y_min"),
      targetRows = math.max(256, ds.read().count() / 16))
    // y window anchored at 0 so the box set is non-empty at every SF
    // (sf0.001 user_ids only reach 14)
    val q = SpatialIndex.BBox(50.0, 0.0, 150.0, 40.0)
    SpatialIndex.intersects(ds,
        SpatialIndex.BoxCols("x_min", "y_min", "x_max", "y_max"), q)
      .withColumn("contained",
        col("x_min") >= q.xMin && col("x_max") <= q.xMax &&
        col("y_min") >= q.yMin && col("y_max") <= q.yMax)
      .select("event_id", "contained")
  }

  /** Branch scenario (Git/Nessie model over the manifest store — beyond
    * the reference's immutable tags): fork a branch, run DML on it while
    * main stays frozen, fast-forward merge, then prove divergence is
    * refused by --ff-only and RESOLVED by the squash rebase-merge
    * ([[LakeDataset.mergeBranchRebase]]: net branch delta, conflict-matrix
    * checked, branch-append rowids re-based onto a fresh range). Every
    * output is derivable from `nation`, so DuckDB states the expected
    * counts — hash-equal iff branch isolation, both merges, and the
    * ff-only guard all behaved. */
  val branchDemo: Q = Q(
    "lake_branch",
    """WITH d AS (SELECT count(*) AS nd FROM nation WHERE n_regionkey = 2),
      |n AS (SELECT count(*) AS total FROM nation)
      |SELECT CAST(n.total AS BIGINT) AS main_before,
      |  CAST(n.total - d.nd + 3 AS BIGINT) AS branch_rows,
      |  CAST(n.total AS BIGINT) AS main_during,
      |  CAST(n.total - d.nd + 3 AS BIGINT) AS main_after_merge,
      |  CAST(1 AS BIGINT) AS ff_rejected,
      |  CAST(n.total - d.nd + 5 AS BIGINT) AS main_after_rebase
      |FROM d, n""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-br-")
    val nation = Tables.load(s, dir, "nation")
    val ds = LakeDataset.create(s, root, StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))))
    ds.append(nation.select("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1))
    val mainBefore = ds.read().count()
    ds.createBranch("etl")
    val br = ds.checkoutBranch("etl")
    br.delete("n_regionkey = 2")
    br.append(s.createDataFrame(
      java.util.List.of(
        Row(Integer.valueOf(100), "BR_A", Integer.valueOf(9)),
        Row(Integer.valueOf(101), "BR_B", Integer.valueOf(9)),
        Row(Integer.valueOf(102), "BR_C", Integer.valueOf(9))),
      ds.schema).coalesce(1))
    val branchRows = br.read().count()
    val mainDuring = ds.refresh().read().count()
    ds.mergeBranch("etl")
    val mainAfter = ds.read().count()
    // divergence: fork, advance main, merge must refuse
    ds.createBranch("risky")
    val risky = ds.checkoutBranch("risky")
    risky.append(s.createDataFrame(
      java.util.List.of(Row(Integer.valueOf(200), "R", Integer.valueOf(9))),
      ds.schema).coalesce(1))
    ds.append(s.createDataFrame(
      java.util.List.of(Row(Integer.valueOf(201), "M", Integer.valueOf(9))),
      ds.schema).coalesce(1))
    val rejected =
      try { ds.mergeBranch("risky"); 0L }
      catch { case _: CommitConflictException => 1L }
    // the diverged histories DO merge via the squash rebase: risky's
    // appended row joins main's post-fork append, rowids re-based
    ds.mergeBranchRebase("risky")
    val mainAfterRebase = ds.read().count()
    import s.implicits._
    Seq((mainBefore, branchRows, mainDuring, mainAfter, rejected,
        mainAfterRebase))
      .toDF("main_before", "branch_rows", "main_during", "main_after_merge",
        "ff_rejected", "main_after_rebase")
  }

  /** CHECK-constraint scenario, oracle-checked: load nation, declare
    * `n_regionkey < 5` (holds — nation has regions 0-4), prove a
    * violating append aborts WITHOUT committing (count and version
    * unchanged), land a valid append, then drop the constraint and land
    * the previously-refused rows. Every output derives from `nation`, so
    * DuckDB states the expected counts — hash-equal iff declare-time
    * validation, inline enforcement, abort atomicity, and drop all
    * behaved. */
  val constraintDemo: Q = Q(
    "lake_constraint",
    """WITH n AS (SELECT count(*) AS total FROM nation)
      |SELECT CAST(n.total AS BIGINT) AS loaded,
      |  CAST(1 AS BIGINT) AS violation_refused,
      |  CAST(n.total AS BIGINT) AS after_refusal,
      |  CAST(n.total + 2 AS BIGINT) AS after_valid,
      |  CAST(n.total + 4 AS BIGINT) AS after_drop
      |FROM n""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-ck-")
    val nation = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val ds = LakeDataset.create(s, root, StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))))
    ds.append(nation.coalesce(1))
    val loaded = ds.read().count()
    ds.addCheckConstraint("region_range", "n_regionkey < 5")
    def row(k: Int, r: Int) = Row(Integer.valueOf(k), s"X$k", Integer.valueOf(r))
    def frame(rows: Row*) =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), ds.schema)
        .coalesce(1)
    val vBefore = ds.version
    // only the refusal this demo means counts; any other failure of the
    // append is a fault and propagates
    def isViolation(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(c =>
        Option(c.getMessage)
          .exists(_.contains("CHECK constraint 'region_range' violated")))
    val refused =
      try { ds.append(frame(row(200, 9), row(201, 9))); 0L }
      catch { case e: Exception if isViolation(e) => 1L }
    val afterRefusal = ds.refresh().read().count()
    require(ds.version == vBefore, "aborted write must not commit")
    ds.append(frame(row(100, 1), row(101, 2)))
    val afterValid = ds.read().count()
    ds.dropCheckConstraint("region_range")
    ds.append(frame(row(200, 9), row(201, 9)))
    val afterDrop = ds.read().count()
    import s.implicits._
    Seq((loaded, refused, afterRefusal, afterValid, afterDrop))
      .toDF("loaded", "violation_refused", "after_refusal", "after_valid",
        "after_drop")
  }

  /** Incremental materialized-view maintenance over the change feed
    * ([[MaterializedView]]): seed a lake table from `orders` (bounded key
    * range so demo cost is SF-capped), build a grouped COUNT/SUM/MAX view,
    * run delete → update → append against the BASE, then `refresh()` the
    * view from CDF deltas only. The DuckDB oracle restates the final base
    * population directly and aggregates it — hash-equal iff the signed
    * delta fold (and the dirty-group MAX recompute under deletion) lands
    * on exactly the full-recompute answer. The refresh path is also pinned
    * group-by-group against [[MaterializedView.expected]] in the spec. */
  val mvIncremental: Q = Q(
    "lake_mv_incremental",
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey <= 4000),
      |final AS (
      |  SELECT o_orderpriority,
      |    cents + CASE WHEN o_orderkey % 10 = 7 THEN 500 ELSE 0 END AS cents
      |  FROM base WHERE o_orderkey % 10 <> 3
      |  UNION ALL
      |  SELECT o_orderpriority, cents FROM base WHERE o_orderkey <= 1000)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS mv_cnt,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(max(cents) AS BIGINT) AS max_cents
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-mv-")
    val src = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") <= 4000)
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val base = LakeDataset.create(s, s"$root/base", StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("cents", LongType))))
    base.append(src.select(col("o_orderkey").cast("long"),
      col("o_orderpriority"), col("cents")).coalesce(2))
    val mv = MaterializedView.create(s, base, s"$root/view",
      keys = Seq("o_orderpriority"), sumCols = Seq("cents"),
      maxCols = Seq("cents"))
    base.delete("o_orderkey % 10 = 3")
    base.update("o_orderkey % 10 = 7", Map("cents" -> "cents + 500"))
    base.append(src.filter(col("o_orderkey") <= 1000)
      .withColumn("o_orderkey", (col("o_orderkey") + 1000000L).cast("long"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("cents"))
      .coalesce(1))
    val stats = mv.refresh()
    require(stats.toVersion == base.version && mv.baseVersion == base.version,
      "refresh cursor must land on the base head")
    require(mv.refresh().upsertedGroups == 0L,
      "second refresh must be a no-op")
    mv.read()
      .select(col("o_orderpriority"), col("mv_cnt"),
        col("sum_cents"), col("max_cents"))
      .orderBy("o_orderpriority")
  }

  /** Transparent MV rewriting ([[MvRewrite]]): register a COUNT/SUM/MAX
    * view over a lake copy of `orders`, run base DML + refresh, then ask a
    * coarser grouped aggregate (with a key-only filter) OF THE BASE TABLE.
    * The run `require`s the optimized plan scans the VIEW, so the rows the
    * driver hashes are the view-answered ones; the DuckDB oracle recomputes
    * the same aggregate from first principles over the simulated final
    * base — hash-equal iff rewrite + incremental maintenance together land
    * on the ground truth. */
  val mvRewrite: Q = Q(
    "lake_mv_rewrite",
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey <= 4000),
      |final AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0)
      |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(max(cents) AS BIGINT) AS max_cents
      |FROM final WHERE o_orderstatus <> 'P'
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-mvr-")
    val src = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") <= 4000)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderpriority"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val base = LakeDataset.create(s, s"$root/base", StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("o_orderstatus", StringType),
      StructField("cents", LongType))))
    base.append(src.coalesce(2))
    val mv = MaterializedView.create(s, base, s"$root/view",
      keys = Seq("o_orderpriority", "o_orderstatus"),
      sumCols = Seq("cents"), maxCols = Seq("cents"))
    MvRewrite.register(s, mv.view.root)
    base.delete("o_orderkey % 7 = 0")
    mv.refresh()
    val q = s.read.format("lake").load(base.root)
      .filter(col("o_orderstatus") =!= "P")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        max("cents").as("max_cents"))
      .orderBy("o_orderpriority")
    val scansView = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation
          if r.relation.table.name.contains(mv.view.root) => r
    }.nonEmpty
    require(scansView, "aggregate over the base must be answered by the MV")
    q
  }

  /** ROLLUP answered by the MV ([[MvRewrite]]'s Expand rewrite): same
    * shape as [[mvRewrite]] but the base query is a two-level ROLLUP with
    * GROUPING() flags and a key filter — the Expand machinery stays, its
    * fact scan becomes the groups-sized view scan (the run `require`s
    * it), and the oracle recomputes the rollup from first principles. */
  val mvRollup: Q = Q(
    "lake_mv_rollup",
    """WITH base AS (
      |  SELECT o_orderkey, o_orderpriority, o_orderstatus,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey <= 4000),
      |final AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0)
      |SELECT o_orderpriority, o_orderstatus,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS gp,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS gs,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(min(cents) AS BIGINT) AS min_cents
      |FROM final WHERE o_orderstatus <> 'P'
      |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin) {
    (s, dir) =>
      val root = ScratchDir("lake-mvru-")
      val src = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 4000)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val base = LakeDataset.create(s, s"$root/base", StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderpriority", StringType),
        StructField("o_orderstatus", StringType),
        StructField("cents", LongType))))
      base.append(src.coalesce(2))
      val mv = MaterializedView.create(s, base, s"$root/view",
        keys = Seq("o_orderpriority", "o_orderstatus"),
        sumCols = Seq("cents"), minCols = Seq("cents"))
      MvRewrite.register(s, mv.view.root)
      base.delete("o_orderkey % 7 = 0")
      mv.refresh()
      val q = s.read.format("lake").load(base.root)
        .filter(col("o_orderstatus") =!= "P")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(grouping("o_orderpriority").cast("long").as("gp"),
          grouping("o_orderstatus").cast("long").as("gs"),
          count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("cents").as("min_cents"))
      val scansView = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation
            if r.relation.table.name.contains(mv.view.root) => r
      }.nonEmpty
      require(scansView, "the ROLLUP over the base must be answered by the MV")
      q
  }

  /** Star-join MV rewriting ([[MaterializedView]] with a dim +
    * [[MvRewrite]]): lake fact (orders slice) ⋈ dim (customer segment), view
    * grouped by the DIM attribute with COUNT/SUM/MAX of fact cents. Fact
    * DML runs, then the same star-join aggregate is asked twice: while
    * STALE the run `require`s the plan does NOT touch the view (fallback
    * pinned), after `refresh()` it `require`s the view scan answers it —
    * so the rows the driver hashes are view-answered. The DuckDB oracle
    * recomputes the aggregate from first principles over the simulated
    * final fact joined to the dim. */
  val mvJoinRewrite: Q = Q(
    "lake_mv_join_rewrite",
    """WITH fact AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey <= 4000),
      |final AS (SELECT * FROM fact WHERE o_orderkey % 5 <> 0),
      |dim AS (SELECT c_custkey, c_mktsegment FROM customer)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(max(cents) AS BIGINT) AS max_cents
      |FROM final JOIN dim ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val root = ScratchDir("lake-mvj-")
    val srcFact = Tables.load(s, dir, "orders")
      .filter(col("o_orderkey") <= 4000)
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_custkey").cast("long").as("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val fact = LakeDataset.create(s, s"$root/fact", StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("cents", LongType))))
    fact.append(srcFact.coalesce(2))
    val dim = LakeDataset.create(s, s"$root/dim", StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_mktsegment", StringType))))
    dim.append(Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("c_custkey"),
        col("c_mktsegment")).coalesce(1))
    val jmv = MaterializedView.create(s, fact, s"$root/view",
      keys = Seq("c_mktsegment"), sumCols = Seq("cents"),
      maxCols = Seq("cents"),
      dims = Seq(MvDim(dim.root, "o_custkey", "c_custkey",
        Seq("c_mktsegment"))))
    MvRewrite.register(s, jmv.view.root)
    try {
      fact.delete("o_orderkey % 5 = 0")
      def star(): org.apache.spark.sql.DataFrame = {
        val f = s.read.format("lake").load(fact.root)
        val d = s.read.format("lake").load(dim.root)
        f.join(d, f("o_custkey") === d("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            max("cents").as("max_cents"))
          .orderBy("c_mktsegment")
      }
      def scansView(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
              .DataSourceV2ScanRelation
              if r.relation.table.name.contains(jmv.view.root) => r
        }.nonEmpty
      require(!scansView(star()),
        "a STALE join view must never answer the star aggregate")
      val stats = jmv.refresh()
      require(stats.removedGroups >= 0L,
        "a fact-only window must fold incrementally, not rebuild")
      val q = star()
      require(scansView(q),
        "the fresh star-join aggregate must be answered by the join view")
      q
    } finally MvRewrite.unregister(s, jmv.view.root)
  }

  def all: Seq[Q] =
    Seq(versionedCrud, dsv2Read, ivfPq, ivfSq, ivfBq, ivfHnsw, hnswIdx,
      catalogRead, sqlDml, sqlDmlMor, zorderPrune, pointLookup, compaction,
      schemaEvolution, changeFeed,
      aggPushdown, spatialKnn, spatialRange, branchDemo, constraintDemo,
      mvIncremental, mvRewrite, mvRollup, mvJoinRewrite)
}
