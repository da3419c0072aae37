package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast

import graft.sources.SessionConf

/** MultipartSink over the Hadoop FileSystem API — the cluster-real
  * implementation the LocalMultipartSink stands in for: the same code
  * path serves file://, hdfs:// and (with the s3a jars on a real
  * cluster) s3a:// URIs. Parts are objects named part-%05d.bin under
  * `dirUri`; uploads are idempotent via overwrite-create, exactly the
  * S3 MPU re-upload semantics (reference ccog/aws_tools.py:88-125).
  *
  * The FileSystem sees the constructing session's Hadoop conf under
  * `confEntries`, the write's own options — the one rule every graft
  * read and write follows ([[SessionConf]]). */
class HadoopMultipartSink(dirUri: String,
    confEntries: Map[String, String] = Map.empty) extends MultipartSink {

  // taken on the driver at construction, shipped to tasks through the
  // one memoized broadcast; none when built outside Spark
  private val session: Option[Broadcast[Map[String, String]]] =
    SessionConf.active.map(SessionConf.broadcast)
  @transient private lazy val fs: FileSystem = new Path(dirUri).getFileSystem(
    SessionConf.hadoop(session.fold(Map.empty[String, String])(_.value), confEntries))

  private def partPath(n: Int) = new Path(dirUri, f"part-$n%05d.bin")

  override def start(): Unit = {
    fs.mkdirs(new Path(dirUri))
    // clean finished parts AND orphaned temp files from crashed
    // attempts (.part-*.tmp-*)
    for (pattern <- Seq("part-*.bin", ".part-*.tmp-*")) {
      val existing = fs.globStatus(new Path(dirUri, pattern))
      if (existing != null) existing.foreach(s => fs.delete(s.getPath, false))
    }
    fs.delete(new Path(dirUri, "manifest.json"), false)
  }

  override def uploadPart(partNumber: Int, bytes: Array[Byte]): String = {
    // temp + rename: concurrent duplicate attempts (speculation, zombie
    // tasks after a stage retry) each write their OWN temp and the
    // rename decides a single whole winner — writing the final path
    // directly could interleave two streams into a torn part that the
    // length-only etag cannot detect. Same discipline as
    // LocalMultipartSink's ATOMIC_MOVE; on S3 proper the MPU itself
    // provides this (each re-upload of a part id is atomic).
    val tmp = new Path(dirUri,
      f".part-$partNumber%05d.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dest = partPath(partNumber)
    // rename FIRST, delete only when genuinely replacing: the old
    // delete-then-rename order let a zombie duplicate attempt delete a
    // winner's COMPLETED part and die before its own rename — the part
    // vanished after the first attempt had already returned success.
    // Now a duplicate attempt (same bytes, the deterministic-writer
    // contract) ADOPTS the winner without ever issuing a delete; only
    // a re-PUT with DIFFERENT bytes — S3's documented
    // re-upload-replaces semantics — takes the delete+rename path,
    // where last-writer-wins is the semantics anyway.
    if (!fs.rename(tmp, dest)) {
      // dest exists (no-clobber semantics). Same content → the race's
      // winner already holds this attempt's part: adopt it. Length
      // alone can't distinguish same-length different-content, so the
      // check is length + CRC32 of the landed bytes (read-back only
      // on this rare path).
      if (raceLanded(dest, bytes)) fs.delete(tmp, false)
      else {
        fs.delete(dest, false) // the genuine replace path
        if (!fs.rename(tmp, dest)) {
          val landed = raceLanded(dest, bytes)
          fs.delete(tmp, false)
          require(landed,
            s"rename $tmp -> $dest failed and no whole part with matching " +
              s"content (length+CRC32) exists at $dest")
        }
      }
    }
    java.lang.Long.toHexString(bytes.length.toLong)
  }

  /** Lost-rename-race check: the winner's part at `dest` counts as this
    * attempt's success only if it holds the SAME content (length + CRC32
    * of the full bytes), not merely the same length. */
  private[sink] def raceLanded(dest: Path, bytes: Array[Byte]): Boolean = try {
    fs.getFileStatus(dest).getLen == bytes.length.toLong &&
      crc32Of(dest) == { val c = new java.util.zip.CRC32; c.update(bytes); c.getValue }
  } catch { case _: java.io.FileNotFoundException => false }

  /** CRC32 of a landed part, streamed — used only on the lost-rename-race
    * path to confirm the winner wrote the same content. */
  private def crc32Of(p: Path): Long = {
    val crc = new java.util.zip.CRC32
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { crc.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    crc.getValue
  }

  override def complete(receipts: Seq[PartReceipt]): Unit = {
    val json = receipts.map(r =>
      s"""{"partNumber":${r.partNumber},"offset":${r.offset},"size":${r.size},"etag":"${r.etag}"}""")
      .mkString("[", ",", "]")
    val out = fs.create(new Path(dirUri, "manifest.json"), true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  override def abort(): Unit = start()

  /** Ordered concat for tests / small outputs. */
  def assembled: Array[Byte] = {
    val outBuf = new java.io.ByteArrayOutputStream()
    // globStatus returns null (not empty) for a nonexistent parent —
    // same guard start() has always had
    val parts = Option(fs.globStatus(new Path(dirUri, "part-*.bin")))
      .getOrElse(Array.empty)
      .map(_.getPath).sortBy(_.getName)
    parts.foreach { p =>
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { outBuf.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    outBuf.toByteArray
  }
}
