package graft.sources

import java.io.InputStream
import java.nio.ByteBuffer
import java.nio.channels.{NonWritableChannelException, SeekableByteChannel}

import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S-4 ingest edge: the ABR bulk ZIPs (reference scripts/extract_abr.py:
  * 93-110 downloads the bulk ZIP and iterates its member XMLs in one
  * Python process). The driver lists every member from each archive's
  * central directory; [[AbrXml]] packs whole members into tasks and each
  * task inflates its members straight into the StAX record parser — one
  * pass over the bytes, nothing staged, no archive held in memory.
  * Archives are read through the Hadoop FileSystem with the driver's
  * configuration, so they can live on HDFS or object storage.
  */
object AbrZip {

  /** Every member of every ZIP under `zipGlob`, parsed into the
    * staging_abr shape. Two entries with one name (appended or rebuilt
    * archives) and same-named members of different archives are all
    * read. `stagingDir` is kept for callers of the former expand-then-
    * parse lifecycle; nothing is written under it. */
  def readZipped(spark: SparkSession, zipGlob: String, stagingDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val members = AbrXml.listFiles(spark, zipGlob).flatMap { f =>
      val path = f.getPath.toString
      withZip(path, conf) { zip =>
        val entries = physicalOrder(zip)
        entries.indices.filterNot(i => entries(i).isDirectory).map { i =>
          val e = entries(i)
          AbrXml.Member(path, i, s"$path!${e.getName}",
            if (e.getSize >= 0) e.getSize else e.getCompressedSize)
        }
      }
    }
    AbrXml.scan(spark, members, zipGlob)
  }

  /** The `entry`-th member (central-directory order) of the archive at
    * `file`, inflating as it is read; closing it closes the archive. */
  private[sources] def openEntry(file: String, entry: Int, conf: Configuration): InputStream = {
    val zip = open(file, conf)
    try {
      val in = zip.getInputStream(physicalOrder(zip)(entry))
      new java.io.FilterInputStream(in) {
        override def close(): Unit = try super.close() finally zip.close()
      }
    } catch { case e: Throwable => zip.close(); throw e }
  }

  private def physicalOrder(zip: ZipFile): IndexedSeq[ZipArchiveEntry] = {
    val it = zip.getEntriesInPhysicalOrder
    val out = IndexedSeq.newBuilder[ZipArchiveEntry]
    while (it.hasMoreElements) out += it.nextElement()
    out.result()
  }

  private def open(file: String, conf: Configuration): ZipFile = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val channel = new HadoopChannel(fs.open(p), fs.getFileStatus(p).getLen)
    try ZipFile.builder().setSeekableByteChannel(channel).get()
    catch { case e: Throwable => channel.close(); throw e }
  }

  private def withZip[T](file: String, conf: Configuration)(f: ZipFile => T): T = {
    val zip = open(file, conf)
    try f(zip) finally zip.close()
  }

  /** Read-only SeekableByteChannel over a Hadoop stream — the random
    * access a ZIP central directory needs, on any Hadoop FileSystem.
    * Seeks only when a read does not continue where the last one ended. */
  private final class HadoopChannel(in: FSDataInputStream, length: Long) extends SeekableByteChannel {
    private var pos = 0L
    private var streamPos = 0L
    private var isOpenNow = true
    private val buf = new Array[Byte](64 * 1024)

    override def read(dst: ByteBuffer): Int = {
      if (pos >= length) return -1
      if (streamPos != pos) { in.seek(pos); streamPos = pos }
      val n = in.read(buf, 0, math.min(buf.length, dst.remaining))
      if (n > 0) { dst.put(buf, 0, n); pos += n; streamPos += n }
      n
    }
    override def position(): Long = pos
    override def position(p: Long): SeekableByteChannel = { pos = p; this }
    override def size(): Long = length
    override def write(src: ByteBuffer): Int = throw new NonWritableChannelException
    override def truncate(size: Long): SeekableByteChannel = throw new NonWritableChannelException
    override def isOpen: Boolean = isOpenNow
    override def close(): Unit = if (isOpenNow) { isOpenNow = false; in.close() }
  }
}
