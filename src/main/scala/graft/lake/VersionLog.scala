package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one reader of a namespace's version log: the lake's "manifest per
  * version + read at version" (reference storage2/refs.go:386-432). A
  * namespace is main's `_manifests/` or a branch's
  * `_refs/branches/<b>/`; each committed version is one immutable file
  * `v<20 digits>.json` there, and nothing else in the directory is a
  * version (`chunks/`, `branch.json`, `_indexes/`, publish temp files).
  *
  * Every lookup by namespace and version goes through here, and so do the
  * errors a missing one raises:
  *  - no namespace: `no dataset at <root>` / `no branch <b> at <root>`;
  *  - a namespace with no version file: `no manifests in <dir>`;
  *  - a missing version: `no version <v>` / `no version <v> on branch <b>`.
  * Each is an [[IllegalArgumentException]]: the materialized-view
  * freshness probe and the change feed tell a missing table or version
  * from a real fault by that type. A missing directory or file is found
  * by the listing or read itself, never by a separate existence check. */
private[lake] final class VersionLog(io: LakeIO, root: Path,
    val branch: Option[String]) {
  import VersionLog._

  /** The namespace's directory of version files. */
  val dir: Path = branch.fold(root.resolve(ManifestsDir))(branchDir(root, _))

  /** Where version `v`'s file lives (the commit target). */
  def file(v: Long): Path = dir.resolve(Manifest.versionFileName(v))

  /** Committed versions, ascending; empty when the namespace has none. */
  def versions: Seq[Long] =
    namesIn(io, dir).getOrElse(Nil).collect { case VersionFile(v) => v.toLong }
      .sorted

  /** The newest committed version: one listing, nothing read. */
  def latest: Long =
    namesIn(io, dir).getOrElse(throw new IllegalArgumentException(
      branch.fold(s"no dataset at $root")(b => s"no branch $b at $root")))
      .filter(VersionFile.matches(_)).maxOption
      .map(Manifest.versionOfFileName)
      .getOrElse(throw new IllegalArgumentException(s"no manifests in $dir"))

  /** Version `v`'s file as written. */
  def text(v: Long): String =
    read(v).getOrElse(throw new IllegalArgumentException(
      s"no version $v" + branch.fold("")(b => s" on branch $b")))

  /** Version `v`'s file, or None when there is none. */
  private def read(v: Long): Option[String] =
    try Some(io.readString(file(v)))
    catch {
      case _: java.io.FileNotFoundException |
          _: java.nio.file.NoSuchFileException => None
    }

  /** Version `v` parsed but not chunk-decoded: its fields, properties,
    * operation and chunk refs, with no fragments when it is chunked. */
  def slim(v: Long): Manifest = Manifest.fromJson(text(v))

  /** Version `v` with its full fragment list. */
  def manifest(v: Long): Manifest = decode(slim(v))

  /** The newest version with its full fragment list. */
  def head: Manifest = manifest(latest)

  /** The dataset's tags: name → main version. A tag is one file
    * `_refs/tags/<name>.json` holding `{"version": v}`. */
  def tags: Map[String, Long] = {
    val dir = tagsDir(root)
    namesIn(io, dir).getOrElse(Nil).filter(_.endsWith(".json")).map { fn =>
      val v = """"version"\s*:\s*(\d+)""".r
        .findFirstMatchIn(io.readString(dir.resolve(fn))).get.group(1).toLong
      fn.dropRight(5) -> v
    }.toMap
  }

  /** Publishes tag `name` at main version `v`; refuses a name in use. */
  def createTag(name: String, v: Long): Unit =
    try io.publishAtomic(tagFile(name), s"""{"version": $v}""")
    catch {
      case _: CommitConflictException =>
        throw new CommitConflictException(s"tag $name exists")
    }

  def deleteTag(name: String): Unit = io.delete(tagFile(name)): Unit

  private def tagFile(name: String): Path =
    tagsDir(root).resolve(s"$name.json")

  /** Every retained version, parsed but not decoded. Only a version
    * deleted between the listing and the read is skipped: a vacuum must
    * never take a manifest it cannot read for one that references
    * nothing, so any other failure propagates. */
  def slims: Seq[Manifest] = versions.flatMap(read).map(Manifest.fromJson)

  /** `m` with the fragments of its chunk refs, read in parallel and
    * concatenated in chunk order; an inline manifest as is. */
  def decode(m: Manifest): Manifest =
    if (m.chunkFiles.isEmpty) m
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val futs = m.chunkFiles.map(ref =>
        Future(readChunk(ref))(chunkDecodeEc))
      m.copy(fragments = futs.flatMap(f => Await.result(f, Duration.Inf)))
    }

  private def readChunk(ref: ChunkRef): Seq[Fragment] = {
    import Manifest.formats
    val lines = io.readString(chunksDir(root).resolve(ref.file))
    val frags = lines.split('\n').iterator.filter(_.nonEmpty)
      .map(org.json4s.jackson.Serialization.read[Fragment](_)).toSeq
    require(frags.size == ref.count,
      s"chunk ${ref.file}: ${frags.size} fragments, manifest says ${ref.count}")
    frags
  }
}

private[lake] object VersionLog {
  private val ManifestsDir = "_manifests"
  private val VersionFile = """v(\d{20})\.json""".r

  private def refsDir(root: Path): Path = root.resolve("_refs")
  private def branchesDir(root: Path): Path =
    refsDir(root).resolve("branches")
  private def branchDir(root: Path, b: String): Path =
    branchesDir(root).resolve(b)

  /** Content-addressed fragment-list chunks, shared by every namespace. */
  def chunksDir(root: Path): Path = root.resolve(ManifestsDir).resolve("chunks")

  private def tagsDir(root: Path): Path = refsDir(root).resolve("tags")

  /** The log of `path`'s namespace, read through the session's Hadoop
    * configuration. */
  def apply(spark: SparkSession, path: String,
      branch: Option[String]): VersionLog =
    new VersionLog(
      LakeIO.forRoot(path, spark.sparkContext.hadoopConfiguration),
      new Path(path), branch)

  /** A new dataset's main log: refuses a root that holds anything in
    * `_manifests/`, then lays out `_manifests/` and `_refs/tags/`. */
  def init(io: LakeIO, root: Path, path: String): VersionLog = {
    val log = new VersionLog(io, root, None)
    require(namesIn(io, log.dir).forall(_.isEmpty), s"dataset exists at $path")
    io.mkdirs(log.dir)
    io.mkdirs(tagsDir(root))
    log
  }

  /** Branch names, in listing order. */
  def branchNames(io: LakeIO, root: Path): Seq[String] =
    namesIn(io, branchesDir(root)).getOrElse(Nil)

  /** Every namespace: main, then each branch. The chunk store and data
    * files are shared, so a vacuum treats all of them as live. */
  def namespaces(io: LakeIO, root: Path): Seq[VersionLog] =
    new VersionLog(io, root, None) +:
      branchNames(io, root).map(b => new VersionLog(io, root, Some(b)))

  /** The names in `dir`, or None when it does not exist. */
  private def namesIn(io: LakeIO, dir: Path): Option[Seq[String]] =
    try Some(io.listNames(dir))
    catch {
      case _: java.io.FileNotFoundException |
          _: java.nio.file.NoSuchFileException => None
    }

  /** Bounded daemon pool for chunk-file decode: open latency on a
    * chunk-encoded table divides by the pool width instead of paying one
    * serial read+parse per chunk. */
  private lazy val chunkDecodeEc =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, Runtime.getRuntime.availableProcessors()),
        (r: Runnable) => {
          val t = new Thread(r, "lake-chunk-decode")
          t.setDaemon(true)
          t
        }))
}
