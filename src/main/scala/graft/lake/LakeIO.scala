package graft.lake

import java.nio.file.{Files, Paths, FileAlreadyExistsException}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Filesystem seam for ALL lake metadata and sidecar IO — manifests,
  * deletion vectors, bloom sidecars, detached transactions, tags, index
  * segments, staged-fragment moves. Fragment DATA always reads/writes
  * through Spark's own Hadoop-FS integration; this trait covers the
  * driver-side file operations around it, so a dataset root can live on
  * any `org.apache.hadoop.fs.FileSystem` scheme (file://, hdfs://, s3a://)
  * — the portability the reference gets from its store family
  * (storage2/store_factory.go, s3_store.go, gs_store.go, az_store.go).
  *
  * Two implementations:
  *  - [[NioLakeIO]] for plain local paths (no scheme): java.nio, hard-link
  *    atomic publish — byte-for-byte the pre-seam behavior.
  *  - [[HadoopLakeIO]] for scheme'd roots: `FileSystem` API throughout.
  *
  * All paths are absolute; relative manifest entries resolve against the
  * dataset root before reaching this layer. */
trait LakeIO {
  def readString(p: Path): String
  def readBytes(p: Path): Array[Byte]
  /** Plain overwrite write (create-path metadata, staging — NOT commits). */
  def writeString(p: Path, s: String): Unit
  def writeBytes(p: Path, b: Array[Byte]): Unit
  def exists(p: Path): Boolean
  def isDirectory(p: Path): Boolean
  /** Basenames of the direct children of `dir` (not recursive). */
  def listNames(dir: Path): Seq[String]
  def mkdirs(p: Path): Unit
  /** Delete a file or empty directory; false if absent. Idempotent. */
  def delete(p: Path): Boolean
  /** Recursive delete; false if absent. */
  def deleteRecursive(p: Path): Boolean
  def size(p: Path): Long
  def lastModifiedMs(p: Path): Long
  /** Move a file (same filesystem). */
  def move(from: Path, to: Path): Unit
  /** Fully-qualified absolute form of `p` (for cross-root references). */
  def absolute(p: Path): Path

  /** Atomic create-if-absent publish: exactly one concurrent publisher of
    * `target` wins; losers throw [[CommitConflictException]] and leave no
    * partial state. The commit primitive (reference commit.go handler
    * family: POSIX link/rename locally, conditional PUT on S3). */
  def publishAtomic(target: Path, content: String): Unit
}

/** Store-native atomic create-if-absent PUT — the commit primitive real
  * object stores expose (S3 `If-None-Match: *` conditional PUT, GCS
  * `ifGenerationMatch=0`, Azure Blob `If-None-Match: *`); the reference
  * binds these as its s3/gs/az commit handlers (storage2/s3_commit.go,
  * store_factory.go). Register one per scheme and [[HadoopLakeIO]] commits
  * through it EXCLUSIVELY: one atomic call, no temp file, no rename, no
  * exists pre-check — the loser of a concurrent publish gets `false` from
  * the store itself, never from a racy check-then-act. */
trait ConditionalPutStore {
  /** Atomically create `target` with `content` iff absent. True = won. */
  def putIfAbsent(target: Path, content: String): Boolean
}

object ConditionalPutStore {
  private val bySheme =
    new java.util.concurrent.ConcurrentHashMap[String, ConditionalPutStore]()

  /** Bind a store's conditional-PUT primitive to a filesystem scheme. */
  def register(scheme: String, store: ConditionalPutStore): Unit =
    bySheme.put(scheme, store): Unit

  def unregister(scheme: String): Unit = bySheme.remove(scheme): Unit

  def forScheme(scheme: String): Option[ConditionalPutStore] =
    Option(bySheme.get(scheme))
}

object LakeIO {
  /** Pick the implementation from the root's scheme: URIs go through
    * Hadoop-FS, bare paths keep the java.nio fast path. When no explicit
    * Configuration is given, the active Spark session's Hadoop conf is
    * used so `spark.hadoop.*` settings (custom fs impls, object-store
    * credentials) reach driver-side metadata IO too — a bare
    * `new Configuration()` would silently drop them. */
  def forRoot(root: String, conf: Configuration = null): LakeIO =
    if (!root.contains("://")) NioLakeIO
    else {
      val c = Option(conf)
        .orElse(org.apache.spark.sql.SparkSession.getActiveSession
          .map(_.sparkContext.hadoopConfiguration))
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession
          .map(_.sparkContext.hadoopConfiguration))
        .getOrElse(new Configuration())
      new HadoopLakeIO(c)
    }

  private[lake] def toNio(p: Path): java.nio.file.Path = {
    val uri = p.toUri
    if (uri.getScheme == null) Paths.get(uri.getPath)
    else {
      require(uri.getScheme == "file",
        s"nio IO cannot reach scheme ${uri.getScheme} ($p)")
      Paths.get(uri.getPath)
    }
  }
}

/** java.nio implementation for local roots (scheme-less or file://). */
object NioLakeIO extends LakeIO {
  import LakeIO.toNio

  def readString(p: Path): String = Files.readString(toNio(p))
  def readBytes(p: Path): Array[Byte] = Files.readAllBytes(toNio(p))
  def writeString(p: Path, s: String): Unit =
    Files.writeString(toNio(p), s): Unit
  def writeBytes(p: Path, b: Array[Byte]): Unit =
    Files.write(toNio(p), b): Unit
  def exists(p: Path): Boolean = Files.exists(toNio(p))
  def isDirectory(p: Path): Boolean = Files.isDirectory(toNio(p))
  def listNames(dir: Path): Seq[String] =
    scala.util.Using.resource(Files.list(toNio(dir)))(
      _.iterator().asScala.map(_.getFileName.toString).toList)
  def mkdirs(p: Path): Unit = Files.createDirectories(toNio(p)): Unit
  def delete(p: Path): Boolean = Files.deleteIfExists(toNio(p))
  def deleteRecursive(p: Path): Boolean = {
    val n = toNio(p)
    if (!Files.exists(n)) return false
    Files.walk(n).sorted(java.util.Comparator.reverseOrder())
      .forEach(x => Files.deleteIfExists(x))
    true
  }
  def size(p: Path): Long = Files.size(toNio(p))
  def lastModifiedMs(p: Path): Long =
    Files.getLastModifiedTime(toNio(p)).toMillis
  def move(from: Path, to: Path): Unit =
    Files.move(toNio(from), toNio(to)): Unit
  def absolute(p: Path): Path = new Path(toNio(p).toAbsolutePath.toString)

  /** Hard-link publish: link creation is atomic and fails if the target
    * exists — the POSIX rename-commit idiom. */
  def publishAtomic(target: Path, content: String): Unit = {
    val t = toNio(target)
    val tmp = t.resolveSibling(s".tmp-${UUID.randomUUID()}")
    Files.writeString(tmp, content)
    try Files.createLink(t, tmp)
    catch {
      case _: FileAlreadyExistsException =>
        Files.delete(tmp)
        throw new CommitConflictException(
          s"${t.getFileName} was committed concurrently")
    }
    Files.delete(tmp)
  }
}

/** Hadoop-FS implementation for scheme'd roots. FileSystem instances are
  * private (`newInstance`, cached per scheme+authority) so disabling write
  * checksums here never mutates the JVM-wide cached instances Spark uses. */
final class HadoopLakeIO(conf: Configuration) extends LakeIO {

  private val fss =
    new java.util.concurrent.ConcurrentHashMap[String, FileSystem]()

  private def fs(p: Path): FileSystem = {
    val uri = p.toUri
    val key = s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}"
    fss.computeIfAbsent(key, _ => {
      val f = FileSystem.newInstance(uri, conf)
      f.setWriteChecksum(false)
      f.setVerifyChecksum(false)
      f
    })
  }

  def readString(p: Path): String =
    new String(readBytes(p), java.nio.charset.StandardCharsets.UTF_8)
  def readBytes(p: Path): Array[Byte] = {
    val in = fs(p).open(p)
    try in.readAllBytes() finally in.close()
  }
  def writeString(p: Path, s: String): Unit =
    writeBytes(p, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  def writeBytes(p: Path, b: Array[Byte]): Unit = {
    val out = fs(p).create(p, true)
    try out.write(b) finally out.close()
  }
  def exists(p: Path): Boolean = fs(p).exists(p)
  def isDirectory(p: Path): Boolean =
    exists(p) && fs(p).getFileStatus(p).isDirectory
  def listNames(dir: Path): Seq[String] =
    fs(dir).listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith(".")) // checksum/hidden sidecars
  def mkdirs(p: Path): Unit = fs(p).mkdirs(p): Unit
  def delete(p: Path): Boolean = fs(p).delete(p, false)
  def deleteRecursive(p: Path): Boolean = fs(p).delete(p, true)
  def size(p: Path): Long = fs(p).getFileStatus(p).getLen
  def lastModifiedMs(p: Path): Long =
    fs(p).getFileStatus(p).getModificationTime
  def move(from: Path, to: Path): Unit = {
    if (!fs(from).rename(from, to))
      throw new java.io.IOException(s"rename $from -> $to failed")
  }
  def absolute(p: Path): Path = fs(p).makeQualified(p)

  /** Local scheme keeps the truly-atomic hard-link; a scheme with a
    * registered [[ConditionalPutStore]] commits through the store's own
    * create-if-absent PUT (no temp file, no rename — s3_commit.go parity,
    * contract-tested by ConditionalPutLakeSpec's rename-refusing fake
    * store); everything else falls back to write-temp + rename-if-absent
    * (correct on HDFS, best-effort on stores without either primitive). */
  def publishAtomic(target: Path, content: String): Unit = {
    val f = fs(target)
    if (f.getScheme == "file") NioLakeIO.publishAtomic(target, content)
    else ConditionalPutStore.forScheme(f.getScheme) match {
      case Some(store) =>
        // Ambiguity-safe: a PUT whose response is lost in flight (the S3
        // "200 dropped by the network" class) may have APPLIED. Retry the
        // conditional PUT; when it then reports "exists", read back and
        // compare — finding OUR OWN bytes means the first attempt landed
        // and this commit WON (retrying as a loser here would double-
        // commit: rebase onto our own ghost and re-apply the op at the
        // next version). Finding other bytes is a true concurrent loss.
        // Sound because S3/GCS/Azure are read-after-write consistent and
        // two writers never publish byte-identical manifests (fragment
        // file names are UUID-bearing). Chaos-tested by
        // ConditionalPutLakeSpec's injected lost-ack/timeout cases. Only a
        // missing object reads back as None; any other read failure fails
        // the publish with its own cause.
        def readBack(p: Path): Option[String] =
          try Option(readString(p))
          catch {
            case _: java.io.FileNotFoundException |
                _: java.nio.file.NoSuchFileException => None
          }
        var sawAmbiguity = false // only then may "exists" be our own write
        def attempt(remaining: Int): Boolean =
          try store.putIfAbsent(target, content)
          catch {
            case e: Exception =>
              sawAmbiguity = true
              if (remaining > 0) attempt(remaining - 1)
              else readBack(target) match {
                case Some(c) => c == content // applied: win iff ours
                case None => throw new java.io.IOException(
                  s"publish of $target failed after retries", e)
              }
          }
        if (!attempt(2)) {
          // a clean false with no prior ambiguity is a KNOWN loss (no
          // ghost possible). After an ambiguous attempt, ONLY a
          // successful read-back may classify: our bytes = win, other
          // bytes = loss, unreadable = outcome UNKNOWN — reporting that
          // as a conflict would let the caller rebase over its own ghost
          // commit and double-apply, so it must surface as an IO error.
          val loss =
            if (!sawAmbiguity) true
            else readBack(target) match {
              case Some(c) => c != content
              case None => throw new java.io.IOException(
                s"publish of $target: object exists but is unreadable " +
                  "after an ambiguous PUT; commit outcome unknown")
            }
          if (loss) throw new CommitConflictException(
            s"${target.getName} was committed concurrently")
        }
      case None => {
      val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID()}")
      writeString(tmp, content)
      val won =
        try !f.exists(target) && f.rename(tmp, target)
        catch { case _: java.io.IOException => false }
      if (!won) {
        f.delete(tmp, false)
        throw new CommitConflictException(
          s"${target.getName} was committed concurrently")
      }
      }
    }
  }
}
