package graft.lake

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}

/** Test-only Hadoop FileSystem with a NON-`file` scheme and a real
  * authority component, storing bytes on local disk. Registering it as
  * `graftfs://testhost/...` lets the suite prove that no `file://`
  * assumption leaks through the lake's path handling: qualification,
  * authority round-tripping, executor-side fragment IO via Spark, and
  * HadoopLakeIO's generic (rename-if-absent, non-hard-link) publish
  * branch — the code path an hdfs:// root takes. (Object-store
  * conditional-PUT commits are contract-tested separately by
  * [[ConditionalPutLakeSpec]] over a rename-refusing fake store.) It also
  * records every file opened for reading and can fail a stat on demand,
  * for specs that count metadata reads or inject IO faults. */
class GraftTestFileSystem extends RawLocalFileSystem {
  import GraftTestFileSystem._

  override def getScheme: String = "graftfs"
  override def getUri: URI = NAME

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }

  // a directory listing stats its children: only a direct stat fails
  override def listStatus(f: Path): Array[FileStatus] = {
    listing.set(true)
    try super.listStatus(f) finally listing.set(false)
  }

  override def getFileStatus(f: Path): FileStatus = {
    if (!listing.get && failStat(f.toUri.getPath))
      throw new java.io.IOException(s"injected stat failure: $f")
    super.getFileStatus(f)
  }
}

object GraftTestFileSystem {
  val NAME: URI = URI.create("graftfs://testhost/")

  /** Local paths opened for reading, by every instance, in order. */
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A direct stat of a path this accepts fails with an IOException. */
  @volatile var failStat: String => Boolean = _ => false

  private val listing = ThreadLocal.withInitial[Boolean](() => false)

  /** Register the scheme on a Configuration (idempotent). */
  def register(conf: Configuration): Unit = {
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    // one shared instance per JVM is fine for tests; disable the cache so
    // a stale pre-registration instance can never be returned
    conf.setBoolean("fs.graftfs.impl.disable.cache", false)
  }
}
