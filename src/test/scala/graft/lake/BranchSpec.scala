package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Branch semantics: namespaced linear histories sharing one data/chunk
  * store, fast-forward-only merge, cross-namespace vacuum safety. */
class BranchSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def rows(xs: (Long, String)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*), schema)
      .coalesce(1)

  private def makeDs(): LakeDataset = {
    val dir = Files.createTempDirectory("branch-").toString
    val ds = LakeDataset.create(spark, dir, schema)
    ds.append(rows(1L -> "a", 2L -> "b"))
    ds
  }

  private def ids(ds: LakeDataset): Set[Long] =
    ds.read().select("id").collect().map(_.getLong(0)).toSet

  test("branch writes are invisible on main; branch sees fork + own") {
    val ds = makeDs()
    ds.createBranch("dev")
    val dev = ds.checkoutBranch("dev")
    assert(dev.branchName.contains("dev"))
    dev.append(rows(10L -> "dev-only"))
    assert(ids(dev) == Set(1L, 2L, 10L))
    // main: no new version, no new rows
    assert(ids(ds.refresh()) == Set(1L, 2L))
    assert(ds.branches == Map("dev" -> dev.version))
  }

  test("branch has its own linear history with time travel") {
    val ds = makeDs()
    val forkV = ds.version
    ds.createBranch("dev")
    val dev = ds.checkoutBranch("dev")
    dev.append(rows(10L -> "x"))
    dev.append(rows(11L -> "y"))
    assert(dev.versions == Seq(forkV, forkV + 1, forkV + 2))
    assert(dev.readVersion(forkV).count() == 2)
    assert(dev.readVersion(forkV + 1).count() == 3)
    // deletes/updates work on a branch like on main
    dev.delete("id = 10")
    assert(ids(dev) == Set(1L, 2L, 11L))
    assert(ids(ds.refresh()) == Set(1L, 2L))
  }

  test("fast-forward merge lands branch commits on main atomically") {
    val ds = makeDs()
    ds.createBranch("feature")
    val br = ds.checkoutBranch("feature")
    br.append(rows(20L -> "f1"))
    br.append(rows(21L -> "f2"))
    val merged = ds.mergeBranch("feature")
    assert(merged == br.version)
    assert(ids(ds) == Set(1L, 2L, 20L, 21L))
    assert(ds.version == br.version)
    // histories now agree version-by-version
    assert(ds.versions.takeRight(3) == br.versions.takeRight(3))
  }

  test("merge refuses when main diverged after the fork") {
    val ds = makeDs()
    ds.createBranch("feature")
    val br = ds.checkoutBranch("feature")
    br.append(rows(20L -> "f"))
    ds.append(rows(99L -> "main-moved")) // divergence
    val e = intercept[CommitConflictException] { ds.mergeBranch("feature") }
    assert(e.getMessage.contains("fast-forward impossible"))
    assert(ids(ds) == Set(1L, 2L, 99L))
  }

  test("merge from a foreign fork point is rejected") {
    val ds = makeDs()
    ds.createBranch("a")
    val a = ds.checkoutBranch("a")
    a.append(rows(30L -> "a1"))
    a.createBranch("b") // forks from branch a, not main
    val e = intercept[IllegalArgumentException] { ds.mergeBranch("b") }
    assert(e.getMessage.contains("forked from a"))
  }

  test("vacuum on main never collects branch-referenced files") {
    val ds = makeDs()
    ds.createBranch("keepme")
    val br = ds.checkoutBranch("keepme")
    br.append(rows(40L -> "branch-data"))
    // churn main so old versions expire, then vacuum aggressively
    ds.append(rows(98L -> "m1"))
    ds.append(rows(97L -> "m2"))
    ds.vacuum(keepVersions = 1, graceMs = 0)
    // the branch still reads everything, including its own fragment
    assert(ids(br.refresh()) == Set(1L, 2L, 40L))
    // after the branch is deleted its private fragment becomes garbage
    ds.deleteBranch("keepme")
    ds.vacuum(keepVersions = 1, graceMs = 0)
    assert(ds.branches.isEmpty)
    assert(ids(ds) == Set(1L, 2L, 98L, 97L))
  }

  test("vacuum on main fails, deleting nothing, on an unreadable branch manifest") {
    val ds = makeDs()
    ds.createBranch("corrupt")
    val br = ds.checkoutBranch("corrupt")
    br.append(rows(41L -> "branch-only"))
    val fork = ds.manifest.fragments.map(_.file).toSet
    val branchOnly = br.manifest.fragments.map(_.file).filterNot(fork)
    assert(branchOnly.size == 1)
    Files.writeString(
      Paths.get(ds.root, "_refs", "branches", "corrupt",
        Manifest.versionFileName(br.version)),
      "{\"version\": ")
    intercept[Exception](ds.vacuum(keepVersions = 1, graceMs = 0))
    assert(Files.exists(Paths.get(ds.root, branchOnly.head)))
  }

  test("concurrent appends on one branch rebase like on main") {
    val ds = makeDs()
    ds.createBranch("busy")
    val h1 = ds.checkoutBranch("busy")
    val h2 = ds.checkoutBranch("busy")
    val v0 = h1.version
    h1.append(rows(50L -> "w1"))
    h2.append(rows(51L -> "w2")) // stale handle: auto-rebases
    assert(ids(h1.refresh()) == Set(1L, 2L, 50L, 51L))
    assert(h1.version == v0 + 2)
  }

  test("SQL reads a branch through DSv2 option(\"branch\"); writes refuse") {
    val ds = makeDs()
    ds.createBranch("sqlbr")
    val br = ds.checkoutBranch("sqlbr")
    br.append(rows(70L -> "only-on-branch"))
    br.delete("id = 1")
    val viaSql = spark.read.format("lake")
      .option("branch", "sqlbr").load(ds.root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaSql == Set(2L, 70L))
    // main read unaffected
    val mainSql = spark.read.format("lake")
      .load(ds.root).select("id").collect().map(_.getLong(0)).toSet
    assert(mainSql == Set(1L, 2L))
    // branch-pinned tables are read-only through SQL
    val e = intercept[Exception] {
      rows(71L -> "x").write.format("lake")
        .option("branch", "sqlbr").mode("append").save(ds.root)
    }
    assert(e.getMessage.contains("branch"))
    // versionAsOf composes with branch: pre-append branch version
    val pinned = spark.read.format("lake")
      .option("branch", "sqlbr").option("versionAsOf", br.versions.head)
      .load(ds.root).select("id").collect().map(_.getLong(0)).toSet
    assert(pinned == Set(1L, 2L))
  }

  // ------------------------------------------------ rebase (squash) merge

  private def rowids(ds: LakeDataset): Seq[Long] =
    ds.readFragments(ds.manifest, ds.manifest.fragments, withRowId = true)
      .select(LakeDataset.RowIdCol).collect().map(_.getLong(0)).toSeq

  test("rebase merge lands diverged append/append with disjoint rowids") {
    val ds = makeDs()
    ds.createBranch("dev")
    val br = ds.checkoutBranch("dev")
    br.append(rows(10L -> "b1"))
    br.append(rows(11L -> "b2"))
    ds.append(rows(99L -> "m1")) // divergence: both claim post-fork rowids
    intercept[CommitConflictException] { ds.mergeBranch("dev") } // ff refuses
    ds.mergeBranchRebase("dev")
    assert(ids(ds) == Set(1L, 2L, 10L, 11L, 99L))
    val rids = rowids(ds)
    assert(rids.distinct.size == rids.size, s"rowid collision: $rids")
    // branch itself is untouched and still readable
    assert(ids(br.refresh()) == Set(1L, 2L, 10L, 11L))
    // merge is one commit with the Merge op recorded
    assert(ds.manifest.operation == "merge_branch(dev)")
  }

  test("rebase merge adopts branch fragments verbatim when main made no claims") {
    val ds = makeDs()
    ds.createBranch("dev")
    val br = ds.checkoutBranch("dev")
    br.append(rows(10L -> "b1"))
    // main diverges with a DV delete — no rowid claims, no fragment rewrite
    ds.delete("id = 2", useDeletionVectors = true)
    ds.mergeBranchRebase("dev")
    assert(ids(ds) == Set(1L, 10L))
  }

  test("rebase merge replays a branch CoW delete; main appends survive") {
    val ds = makeDs()
    ds.createBranch("dev")
    val br = ds.checkoutBranch("dev")
    br.delete("id = 1") // CoW rewrite of the fork fragment
    ds.append(rows(99L -> "m1"))
    ds.mergeBranchRebase("dev")
    assert(ids(ds) == Set(2L, 99L))
  }

  test("rebase merge replays branch tombstones against shared fork rowids") {
    val ds = makeDs()
    ds.createBranch("dev")
    val br = ds.checkoutBranch("dev")
    br.delete("id = 2", useDeletionVectors = true)
    ds.append(rows(99L -> "m1"))
    ds.mergeBranchRebase("dev")
    assert(ids(ds) == Set(1L, 99L))
  }

  test("rebase merge refuses when both sides deleted from one fragment") {
    val ds = makeDs()
    ds.createBranch("dev")
    val br = ds.checkoutBranch("dev")
    br.delete("id = 1")
    ds.delete("id = 2") // same fork fragment: CoW rewrite on both sides
    val e = intercept[CommitConflictException] { ds.mergeBranchRebase("dev") }
    assert(e.getMessage.contains("conflicts with"))
  }

  test("rebase merge adopts a branch-only schema change") {
    val ds = makeDs()
    ds.createBranch("dev")
    val br = ds.checkoutBranch("dev")
    br.addColumns(StructType(Seq(StructField("extra", StringType))))
    br.append(spark.createDataFrame(
      java.util.Arrays.asList(Row(10L, "b", "E")),
      StructType(schema.fields :+ StructField("extra", StringType)))
      .coalesce(1))
    ds.append(rows(99L -> "m1"))
    ds.mergeBranchRebase("dev")
    val out = ds.read().collect().map(r =>
      (r.getLong(0), Option(r.getString(2)))).toMap
    assert(out == Map(1L -> None, 2L -> None, 99L -> None, 10L -> Some("E")))
  }

  test("rebase merge refuses when both sides changed the schema") {
    val ds = makeDs()
    ds.createBranch("dev")
    val br = ds.checkoutBranch("dev")
    br.addColumns(StructType(Seq(StructField("bcol", StringType))))
    ds.addColumns(StructType(Seq(StructField("mcol", StringType))))
    val e = intercept[CommitConflictException] { ds.mergeBranchRebase("dev") }
    assert(e.getMessage.contains("schema"))
  }

  test("rebase merge refuses a branch compaction across the fork line") {
    val ds = makeDs()
    ds.createBranch("dev")
    val br = ds.checkoutBranch("dev")
    br.append(rows(10L -> "b1"))
    br.compact(targetRows = 1 << 20) // folds fork rows + branch appends
    ds.append(rows(99L -> "m1"))     // forces a rowid re-base
    val e = intercept[CommitConflictException] { ds.mergeBranchRebase("dev") }
    assert(e.getMessage.contains("compact"))
  }

  test("rebase merge with no divergence is a fast-forward") {
    val ds = makeDs()
    ds.createBranch("dev")
    val br = ds.checkoutBranch("dev")
    br.append(rows(10L -> "b1"))
    ds.mergeBranchRebase("dev")
    assert(ids(ds) == Set(1L, 2L, 10L))
    assert(ds.version == br.refresh().version) // ff copied version files
  }

  test("branch from a historical version forks the old content") {
    val ds = makeDs()
    val oldV = ds.version
    ds.append(rows(60L -> "later"))
    ds.createBranch("hist", oldV)
    val h = ds.checkoutBranch("hist")
    assert(ids(h) == Set(1L, 2L))
    h.append(rows(61L -> "hist-new"))
    assert(ids(h) == Set(1L, 2L, 61L))
    assert(ids(ds.refresh()) == Set(1L, 2L, 60L))
  }

  test("an index built on a branch is the branch's alone") {
    val vecSchema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType),
      StructField("vec", ArrayType(FloatType))))
    // base rows spread over e1..e7; main appends near +e0, the branch near
    // -e0, and both appends take the same rowids
    def vecRows(ids: Range)(vec: Int => Seq[Float]) =
      spark.createDataFrame(java.util.Arrays.asList(ids.map(i =>
        Row(i.toLong, s"word$i shared", vec(i))): _*), vecSchema).coalesce(1)
    def unit(d: Int, scale: Float = 1f) =
      Seq.tabulate(8)(j => if (j == d) scale else 0f)
    val ds = LakeDataset.create(spark,
      Files.createTempDirectory("branch-").toString, vecSchema)
    ds.append(vecRows(0 until 40)(i =>
      unit(1 + i % 7).updated(0, 0.01f * (i % 3))))
    ds.createBranch("dev")
    val dev = ds.checkoutBranch("dev")
    ds.append(vecRows(40 until 60)(i => unit(0).updated(1, 0.05f * (i - 40))))
    dev.append(vecRows(100 until 120)(i =>
      unit(0, -1f).updated(2, 0.05f * (i - 100))))
    assert(ds.version == dev.version)
    val q = unit(0).updated(1, 0.25f)
    def top(d: LakeDataset) =
      VectorIndex.search(d, "vec", q, k = 5, nprobe = 1).collect().toSeq
    val brute = top(ds) // no index anywhere yet
    VectorIndex.build(dev, "vec")
    FtsIndex.build(dev, "text")
    assert(VectorIndex.builtVersion(dev, "ivf").contains(dev.version))
    assert(ds.listIndexes().isEmpty)
    assert(dev.listIndexes() == Seq("fts", "ivf"))
    // main at the same version number sees none of the branch's segments
    assert(VectorIndex.builtVersion(ds, "ivf").isEmpty)
    assert(top(ds) == brute)
    val e = intercept[IllegalStateException](
      FtsIndex.search(ds, Seq("shared"), 5).collect())
    assert(e.getMessage.contains("no FTS index"))
    // the branch's searches run on its own index
    assert(FtsIndex.search(dev, Seq("word100"), 5)
      .collect().map(_.getLong(0)).toSeq == Seq(100L))
    ds.deleteBranch("dev")
    assert(!Files.exists(Paths.get(ds.root, "_refs", "branches", "dev")))
  }
}
