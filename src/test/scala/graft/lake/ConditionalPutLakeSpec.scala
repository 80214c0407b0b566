package graft.lake

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** Test-only Hadoop FileSystem modeling an OBJECT STORE: bytes on local
  * disk, but any RENAME into the lake's commit surface (`_manifests`,
  * `_refs`, `_tags`) throws — real object stores have no atomic rename,
  * so a commit protocol that renames there is broken on S3/GCS/Azure by
  * construction. Data-staging renames stay permitted (fragment moves ride
  * a store's multipart-copy/committer machinery, a different seam). A read
  * can be made to fail on request (`failOpen`). */
class FakePutFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "fakeput"
  override def getUri: URI = FakePutFileSystem.NAME

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (FakePutFileSystem.failOpen(f.toUri.getPath))
      throw new java.io.IOException(s"injected read failure: $f")
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    val s = dst.toUri.getPath
    if (FakePutFileSystem.CommitDirs.exists(d => s.contains(s"/$d/")))
      throw new UnsupportedOperationException(
        s"object store has no atomic rename (attempted: $src -> $dst)")
    super.rename(src, dst)
  }
}

object FakePutFileSystem {
  val NAME: URI = URI.create("fakeput://testhost/")
  val CommitDirs: Seq[String] = Seq("_manifests", "_refs", "_tags")

  /** Opening a path this accepts fails with an IOException. */
  @volatile var failOpen: String => Boolean = _ => false

  def register(conf: Configuration): Unit = {
    conf.set("fs.fakeput.impl", classOf[FakePutFileSystem].getName)
    conf.setBoolean("fs.fakeput.impl.disable.cache", false)
  }
}

/** The fake store's conditional-PUT primitive: atomic create-if-absent,
  * exactly the S3 `If-None-Match: *` contract. The JVM-wide monitor stands
  * in for the store's server-side atomicity; the object appears complete
  * or not at all, and the loser learns from the PUT itself (never from a
  * check-then-act race). Counts calls so the suite can assert every
  * commit went through the PUT door. */
object FakeConditionalPut extends ConditionalPutStore {
  val puts = new AtomicLong(0L)
  val conflicts = new AtomicLong(0L)

  def putIfAbsent(target: Path, content: String): Boolean =
    FakeConditionalPut.synchronized {
      puts.incrementAndGet()
      val local = java.nio.file.Paths.get(target.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      try {
        java.nio.file.Files.write(local,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          conflicts.incrementAndGet()
          false
      }
    }
}

/** The full schemed-lake matrix (CRUD, time travel, DML, schema evolution,
  * detached txns, DSv2, FTS, chunked manifests, injected commit races)
  * over a store that ONLY offers create-if-absent PUT for commits and
  * REFUSES rename on the commit surface — the reference's s3_commit.go
  * parity contract. Green here means the lake's commit protocol carries
  * no rename dependency. */
class ConditionalPutLakeSpec extends SchemedLakeSpecBase {
  FakePutFileSystem.register(spark.sparkContext.hadoopConfiguration)
  ConditionalPutStore.register("fakeput", FakeConditionalPut)

  protected def schemePrefix: String = "fakeput://testhost"

  test("commits flow through the conditional PUT; losers get the conflict") {
    val root = tmpRoot()
    val before = FakeConditionalPut.puts.get()
    val ds = LakeDataset.create(spark,
      root, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false))))
    ds.append(spark.range(3).toDF("id").coalesce(1))
    assert(FakeConditionalPut.puts.get() > before,
      "every commit must go through the store's PUT primitive")

    // direct loser: publishing the same version twice — the SECOND put
    // returns false from the store and surfaces as a commit conflict
    val io = new HadoopLakeIO(spark.sparkContext.hadoopConfiguration)
    val t = new Path(s"$root/_manifests/v999.json")
    io.publishAtomic(t, """{"v": 999}""")
    val beforeConf = FakeConditionalPut.conflicts.get()
    intercept[CommitConflictException](
      io.publishAtomic(t, """{"v": 999, "loser": true}"""))
    assert(FakeConditionalPut.conflicts.get() == beforeConf + 1)
    assert(io.readString(t) == """{"v": 999}""", "loser left no trace")
  }

  // ---- chaos: the S3 "200 lost in flight" ambiguity class ------------
  // A PUT can APPLY server-side while its response dies on the network;
  // the writer cannot distinguish that from a failed PUT. s3_commit.go's
  // durability contract: after retries the writer must converge to the
  // truth — its own landed bytes are a WIN (not a conflict that would
  // rebase onto its own ghost and double-commit), someone else's bytes
  // are a loss, and nothing on the store may be corrupted either way.

  /** Wraps the fake store; the next `failures` putIfAbsent calls throw —
    * AFTER applying the write when `applyBeforeThrow` (lost ack) or
    * INSTEAD of applying it (transport failure). */
  private class ChaoticStore(failures: Int, applyBeforeThrow: Boolean)
      extends ConditionalPutStore {
    private var remaining = failures
    var calls = 0
    def putIfAbsent(target: Path, content: String): Boolean =
      synchronized {
        calls += 1
        if (remaining > 0) {
          remaining -= 1
          if (applyBeforeThrow)
            FakeConditionalPut.putIfAbsent(target, content): Unit
          throw new java.io.IOException("response lost in flight")
        }
        FakeConditionalPut.putIfAbsent(target, content)
      }
  }

  private def withStore[A](s: ConditionalPutStore)(body: => A): A =
    try { ConditionalPutStore.register("fakeput", s); body }
    finally ConditionalPutStore.register("fakeput", FakeConditionalPut)

  test("chaos: PUT applied but ack lost -> retry converges to a WIN, once") {
    val io = new HadoopLakeIO(spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("chaos-")
    val t = new Path(s"fakeput://testhost$dir/_manifests/v1.json")
    val store = new ChaoticStore(failures = 1, applyBeforeThrow = true)
    withStore(store) { io.publishAtomic(t, """{"v":1,"who":"me"}""") }
    // retry found our own bytes: success, no exception, no double write
    assert(io.readString(t) == """{"v":1,"who":"me"}""")
    assert(store.calls == 2, "one ambiguous attempt + one retry")
  }

  test("chaos: ack lost AND a competitor won -> loser sees the conflict") {
    val io = new HadoopLakeIO(spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("chaos-")
    val t = new Path(s"fakeput://testhost$dir/_manifests/v1.json")
    // competitor's commit is already durable
    io.publishAtomic(t, """{"v":1,"who":"them"}""")
    val store = new ChaoticStore(failures = 1, applyBeforeThrow = false)
    withStore(store) {
      intercept[CommitConflictException](
        io.publishAtomic(t, """{"v":1,"who":"me"}"""))
    }
    assert(io.readString(t) == """{"v":1,"who":"them"}""",
      "winner's bytes untouched by the loser's retries")
  }

  test("chaos: PUT never applied, all retries fail -> IOException, no ghost") {
    val io = new HadoopLakeIO(spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("chaos-")
    val t = new Path(s"fakeput://testhost$dir/_manifests/v1.json")
    val store = new ChaoticStore(failures = 99, applyBeforeThrow = false)
    withStore(store) {
      intercept[java.io.IOException](
        io.publishAtomic(t, """{"v":1}"""))
    }
    assert(!io.exists(t), "failed publish must leave no partial object")
    assert(store.calls == 3, "initial attempt + 2 retries, then give up")
  }

  test("chaos: a read-back that fails for another reason fails the publish") {
    val io = new HadoopLakeIO(spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("chaos-")
    val t = new Path(s"fakeput://testhost$dir/_manifests/v1.json")
    val store = new ChaoticStore(failures = 99, applyBeforeThrow = true)
    FakePutFileSystem.failOpen = _ == t.toUri.getPath
    try withStore(store) {
      val e = intercept[java.io.IOException](
        io.publishAtomic(t, """{"v":1}"""))
      // the read-back's own failure, not a generic "failed after retries"
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("injected read failure")),
        s"cause chain: $e")
    } finally FakePutFileSystem.failOpen = _ => false
    assert(store.calls == 3)
  }

  test("chaos: end-to-end append with lost ack commits EXACTLY once") {
    val root = tmpRoot()
    val ds = LakeDataset.create(spark,
      root, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val v0 = ds.version
    withStore(new ChaoticStore(failures = 1, applyBeforeThrow = true)) {
      ds.append(spark.range(5).toDF("id").coalesce(1))
    }
    val end = LakeDataset.open(spark, root)
    assert(end.version == v0 + 1, "exactly one version advance")
    assert(end.read().count() == 5, "rows appended exactly once")
  }

  test("rename into the commit surface is refused by the store") {
    val io = new HadoopLakeIO(spark.sparkContext.hadoopConfiguration)
    val dir = java.nio.file.Files.createTempDirectory("fakeput-")
    val src = new Path(s"fakeput://testhost$dir/stage.json")
    io.writeString(src, "{}")
    intercept[UnsupportedOperationException](
      io.move(src, new Path(s"fakeput://testhost$dir/_manifests/v1.json")))
  }
}
