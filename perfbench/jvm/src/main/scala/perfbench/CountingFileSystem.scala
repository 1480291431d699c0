package perfbench

import java.util.EnumSet
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** graft's local FileSystem with every metadata and open/create call
  * counted, timed and classified by the file it touches. Installed via
  * `spark.hadoop.fs.file.impl` in traced runs only.
  *
  * One operation is in flight at a time, so process-wide counters read
  * before and after an operation attribute each call to it. Only the
  * outermost call on a thread is counted: `mkdirs` calling
  * `getFileStatus` is one call, as the program made it.
  */
class CountingFileSystem extends graft.hadoop.FastLocalFileSystem {
  import CountingFileSystem._

  /** Counts the bytes written to a created file under its file class. */
  private def countingOut(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    val bytes = counter(s"io.bytes_written.${classify(f)}")
    new FSDataOutputStream(new java.io.FilterOutputStream(out) {
      override def write(b: Int): Unit = { out.write(b); bytes.incrementAndGet(); () }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); bytes.addAndGet(len); ()
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open", f)(super.open(f, bufferSize))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    countingOut(f, counted("create", f)(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress)))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    countingOut(f, counted("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    countingOut(f, counted("create", f)(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress)))
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    countingOut(f, counted("create", f)(super.createNonRecursive(f, permission, overwrite,
      bufferSize, replication, blockSize, progress)))
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename", dst)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    counted("delete", p)(super.delete(p, recursive))
  override def listStatus(f: Path): Array[FileStatus] =
    counted("list", f)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    counted("stat", f)(super.getFileStatus(f))
  override def exists(f: Path): Boolean =
    counted("stat", f)(super.exists(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs", f)(super.mkdirs(f, permission))
}

object CountingFileSystem {
  private val depth = ThreadLocal.withInitial[Int](() => 0)
  private val counters = new ConcurrentHashMap[String, AtomicLong]()
  val callNanos = new AtomicLong()
  /** Data files created by the operation in flight. */
  private val createdData = new ConcurrentHashMap[String, java.lang.Boolean]()

  private[perfbench] def counter(k: String): AtomicLong =
    counters.computeIfAbsent(k, _ => new AtomicLong())
  private def bump(k: String): Unit = { counter(k).incrementAndGet(); () }
  private def add(k: String, v: Long): Unit = { counter(k).addAndGet(v); () }

  /** Runs one FileSystem call of `kind` on `p`, counting and timing it
    * unless it is nested in another counted call on this thread. */
  def counted[T](kind: String, p: Path)(body: => T): T = {
    val d = depth.get()
    if (d > 0) return body
    depth.set(1)
    val t0 = System.nanoTime()
    try body
    finally {
      callNanos.addAndGet(System.nanoTime() - t0)
      depth.set(0)
      bump(s"io.$kind")
      if (kind == "open" || kind == "create") {
        val cls = classify(p)
        if (cls != "data" && cls != "other") {
          val dir = if (kind == "open") "reads" else "writes"
          bump(s"table.meta_$dir.$cls")
          if (kind == "open") add(s"table.meta_reads.${cls}_bytes", fileSize(p))
        }
        // the REST server's own metadata reads: its load-table cache
        // misses and the reads of its commit handler
        if (kind == "open" && cls == "metadata_json" &&
            Thread.currentThread.getName == RestServerThread)
          bump("rest.server_metadata_reads")
        if (cls == "data") {
          val key = p.toUri.getPath
          if (kind == "create") createdData.put(key, java.lang.Boolean.TRUE)
          else if (createdData.containsKey(key)) bump("table.footer_reads")
        }
      }
    }
  }

  /** The name of `IcebergRestServer`'s request threads. */
  private val RestServerThread = "graft-rest-server"

  private def fileSize(p: Path): Long =
    try new java.io.File(p.toUri.getPath).length() catch { case _: Exception => 0L }

  /** File class by name, for both the graft and the Iceberg layout. */
  def classify(p: Path): String = {
    val s = p.toUri.getPath
    val name = s.substring(s.lastIndexOf('/') + 1)
    val inMeta = s.contains("/metadata/")
    if (!inMeta && name.endsWith(".parquet")) "data"
    else if (!inMeta) "other"
    else if (name.endsWith(".metadata.json") ||
        (name.startsWith(".v") && name.endsWith(".tmp"))) "metadata_json"
    else if (name.startsWith("snap-") && name.endsWith(".avro")) "manifest_list"
    else if (name.startsWith("manifest") && name.endsWith(".avro")) "manifest"
    else if (s.contains("/metadata/manifests/")) "manifest"
    else "other"
  }

  /** Starts attribution of created data files to a new operation. */
  def beginOp(): Unit = createdData.clear()

  /** Every counter, plus call time and the FileSystem byte statistics. */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    counters.asScala.map { case (k, v) => k -> v.get() }.toMap ++ Map(
      "io.call_ns" -> callNanos.get(),
      "io.bytes_read" -> stats.map(_.getBytesRead).sum)
  }
}
