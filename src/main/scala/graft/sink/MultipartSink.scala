package graft.sink

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}

/** A contiguous byte range of the output object. The whole file is a
  * set of Blobs covering [0, totalBytes) with no gaps or overlaps —
  * order lives in the offsets, so the sink is agnostic to what the
  * bytes mean (COG header, tiles, anything). This mirrors the
  * reference's generic ordered-parts sink, callable on any ordered
  * bytes (reference ccog/aws_tools.py:181, SURVEY §3.3). */
case class Blob(offset: Long, bytes: Array[Byte])

/** `checksumCrc32c`: base64 big-endian CRC32C of the part bytes when
  * the sink runs with object-integrity checksums on (modern S3
  * buckets default to CRC-based integrity), None otherwise. */
case class PartReceipt(partNumber: Int, offset: Long, size: Long, etag: String,
    checksumCrc32c: Option[String] = None)

/** S3-multipart-shaped sink lifecycle (reference ccog/aws_tools.py:59-178,
  * R32-R35). uploadPart is idempotent — a Spark task retry re-uploads
  * the same partNumber and overwrites, matching S3 MPU semantics
  * (SURVEY §4.1 retry row). */
trait MultipartSink extends Serializable {
  def start(): Unit
  /** Executor-side. Returns an ETag-like token. Must be idempotent. */
  def uploadPart(partNumber: Int, bytes: Array[Byte]): String
  /** The per-part integrity token a receipt should carry for these
    * bytes — Some(base64 CRC32C) on sinks running with checksums,
    * None (default) otherwise. Computed executor-side so the writer
    * can stamp receipts. CONTRACT: implementations may cache by array
    * reference (each part is hashed once, for the upload header AND
    * the receipt), so callers must pass a part's OWN array and must
    * not mutate or reuse it between uploadPart and partChecksum —
    * OrderedMultipartWriter copies each part once into a new array. A
    * violated contract fails loudly: the server refuses the part's
    * stale checksum with 400 BadDigest. */
  def partChecksum(bytes: Array[Byte]): Option[String] = None
  /** Driver-side finalize; receipts arrive sorted by partNumber. */
  def complete(receipts: Seq[PartReceipt]): Unit
  def abort(): Unit
}

/** A sink that can ADOPT an in-flight upload of its key instead of
  * always starting fresh — the crash-RESUME half of the MPU lifecycle
  * (reference analog ccog/aws_tools.py:59-178 leans on the SDK; real
  * S3 exposes it as ListMultipartUploads + ListParts). A writer that
  * died mid-upload of a 5 TiB object must not restart from byte 0:
  * [[OrderedMultipartWriter.writeResuming]] verifies each remembered
  * part against the local plan and re-uploads only what's missing. */
trait ResumableMultipartSink extends MultipartSink {
  /** Adopt the key's in-flight upload if exactly one exists (else
    * start a fresh one). Returns the parts the adopted upload already
    * holds, keyed by partNumber — empty after a fresh start. More
    * than one in-flight upload for the key fails loudly: resuming an
    * arbitrary one of several silently drops the others' storage cost
    * and races their writers — reap first, then retry. */
  def startOrResume(): Map[Int, PartReceipt]
}

/** Shared digest helper for the ETag-as-MD5 convention both the local
  * sink and the resume verification rely on. */
private[sink] object Digests {
  def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
}

/** Zero-egress local-filesystem stand-in for the S3 MPU sink
  * (the reference's Mpu(store=None) no-op mode is its own testing
  * stand-in, ccog/aws_tools.py:76-79). Parts land as `part-%05d.bin`
  * plus a `manifest.json`; `assembled` re-concatenates for
  * decode-and-compare tests. An S3 implementation replaces file writes
  * with UploadPart calls — the interface is the S3 one, INCLUDING
  * crash-resume: `startOrResume` adopts whatever part files a dead
  * writer left (no manifest = never completed), with MD5 ETags so the
  * resume path's content verification works exactly as it does
  * against S3's multipart ETags. */
class LocalMultipartSink(dir: String) extends ResumableMultipartSink {

  private def partPath(n: Int) = Paths.get(dir, f"part-$n%05d.bin")

  override def start(): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    // idempotent restart: clear stale parts, the manifest, AND
    // orphaned ".part-*.tmp-*" temp files a crashed uploadPart left
    // between write and atomic move
    val old = d.toFile.listFiles()
    if (old != null) old.filter(f => f.getName.startsWith("part-") ||
        f.getName.startsWith(".part-") || f.getName == "manifest.json")
      .foreach(_.delete())
  }

  /** Adopt the crashed write's part files instead of wiping them. A
    * COMPLETED target (manifest present) starts fresh — resume is for
    * half-done uploads, not for silently re-opening committed objects. */
  override def startOrResume(): Map[Int, PartReceipt] = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    if (Files.exists(Paths.get(dir, "manifest.json"))) { start(); return Map.empty }
    // orphaned temp files are garbage either way
    val old = d.toFile.listFiles()
    if (old != null) old.filter(_.getName.startsWith(".part-")).foreach(_.delete())
    partNumbers.map { n =>
      val bytes = Files.readAllBytes(partPath(n))
      n -> PartReceipt(n, 0L, bytes.length.toLong, Digests.md5hex(bytes))
    }.toMap
  }

  override def uploadPart(partNumber: Int, bytes: Array[Byte]): String = {
    val tmp = Paths.get(dir, f".part-$partNumber%05d.tmp-${Thread.currentThread().getId}")
    Files.write(tmp, bytes)
    Files.move(tmp, partPath(partNumber), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    // MD5, like S3's multipart part ETags — resume verifies it
    Digests.md5hex(bytes)
  }

  override def complete(receipts: Seq[PartReceipt]): Unit = {
    // discard stored parts NOT in the receipt list — real S3 does
    // exactly this at CompleteMultipartUpload. Matters for resume: a
    // restarted write whose re-derived plan has FEWER parts than the
    // crashed attempt (different partTarget, shrunken input) would
    // otherwise leave the old tail parts to corrupt assembled/
    // partNumbers behind a passing contiguity audit.
    val listed = receipts.map(_.partNumber).toSet
    partNumbers.filterNot(listed).foreach(n =>
      Files.deleteIfExists(partPath(n)))
    val json = receipts.map(r =>
      s"""{"partNumber":${r.partNumber},"offset":${r.offset},"size":${r.size},"etag":"${r.etag}"}""")
      .mkString("[", ",", "]")
    Files.write(Paths.get(dir, "manifest.json"), json.getBytes("UTF-8"))
  }

  override def abort(): Unit = start() // drop everything uploaded so far

  /** Concatenate parts in partNumber order (tests / small outputs). */
  def assembled: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    partNumbers.foreach(n => out.write(Files.readAllBytes(partPath(n))))
    out.toByteArray
  }

  def partNumbers: Seq[Int] = {
    val fs = Paths.get(dir).toFile.listFiles()
    if (fs == null) Seq.empty
    else fs.map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".bin"))
      .map(n => n.stripPrefix("part-").stripSuffix(".bin").toInt).sorted.toSeq
  }
}

/** Deterministic size-bucketed packing of an ordered blob stream into
  * S3-legal parts — replaces the reference's runtime pairwise merge
  * tree (reference ccog/aws_tools.py:181-245, R36/R37): sizes are known
  * post-encode, so partNumber is a pure function of byte offset and the
  * plan is one shuffle, no tree and no sampling.
  *
  * partNumber = offset/targetSize + 1. Blobs never split, so a part
  * holds every blob starting inside its window: size ∈
  * (target − maxBlob, target + maxBlob), and with
  * target ≥ 5 MiB + maxBlob every non-final part clears the S3 minimum
  * (reference constraint table ccog/aws_tools.py:20-28).
  *
  * The packing is one RDD job, outside the SQL planner: blobs keyed by
  * offset go through `repartitionAndSortWithinPartitions` with a
  * [[PartRangePartitioner]] (contiguous part ranges, a part never split
  * across two partitions), and the same tasks pack and upload each
  * part, whole, exactly once. The part number never decreases as the
  * offset grows, so sorting by offset alone orders each partition by
  * part. The Dataset entries ([[write]], [[writeResuming]]) adapt onto
  * that one path ([[writeBlobs]]).
  */
object OrderedMultipartWriter {

  val S3MinPart: Long = 5L << 20
  val S3MaxPart: Long = 5L << 30
  val S3MaxObject: Long = 5L << 40
  val S3MaxPartCount = 10000

  def targetPartSize(totalBytes: Long, maxBlob: Long,
      default: Long = 16L << 20): Long = {
    require(totalBytes <= S3MaxObject, s"object exceeds 5 TiB: $totalBytes")
    // 9000 not 10000: headroom so the +1 rounding never busts the cap
    val t = math.max(math.max(default, S3MinPart + maxBlob),
      (totalBytes + 8999) / 9000)
    require(t <= S3MaxPart, s"target part $t exceeds 5 GiB")
    t
  }

  /** Pack + upload + finalize. Returns receipts sorted by partNumber. */
  def write(blobs: Dataset[Blob], totalBytes: Long, maxBlob: Long,
      sink: MultipartSink, defaultPart: Long = 16L << 20): Seq[PartReceipt] =
    writeBlobs(blobs.rdd, totalBytes, maxBlob, sink, defaultPart,
      shufflePartitions(blobs.sparkSession), resume = false)

  /** Crash-resume variant: adopt the key's in-flight upload, verify
    * every already-stored part against the locally re-derived plan
    * (size + CRC32C when the sink checksums, size + MD5-vs-ETag
    * otherwise), upload ONLY the missing/mismatched parts, and
    * finalize with the full receipt list. partNumber is a pure
    * function of byte offset and `targetPartSize` is deterministic in
    * (totalBytes, maxBlob, defaultPart), so a restarted writer derives
    * the identical part plan — which is what makes verified reuse
    * sound. Unlike [[write]], a failure here does NOT abort the
    * upload: the half-done MPU is exactly what the next resume picks
    * up (true crashes never run abort anyway; abandoned uploads are
    * the janitor's job, [[S3MpuJanitor.reap]]). */
  def writeResuming(blobs: Dataset[Blob], totalBytes: Long, maxBlob: Long,
      sink: ResumableMultipartSink,
      defaultPart: Long = 16L << 20): Seq[PartReceipt] =
    writeBlobs(blobs.rdd, totalBytes, maxBlob, sink, defaultPart,
      shufflePartitions(blobs.sparkSession), resume = true)

  /** The session's spark.sql.shuffle.partitions: the sink's task cap. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** The one packing path: [[write]] when `resume` is false,
    * [[writeResuming]] (the sink must be a [[ResumableMultipartSink]])
    * when it is true. The blobs go to min(parts, `maxSlices`) tasks. */
  def writeBlobs(blobs: RDD[Blob], totalBytes: Long, maxBlob: Long,
      sink: MultipartSink, defaultPart: Long, maxSlices: Int,
      resume: Boolean): Seq[PartReceipt] = {
    val target = targetPartSize(totalBytes, maxBlob, defaultPart)
    if (resume) {
      require(sink.isInstanceOf[ResumableMultipartSink],
        s"resume needs a ResumableMultipartSink, not ${sink.getClass.getName}")
      writeStarted(blobs, totalBytes, target, maxSlices, sink,
        sink.asInstanceOf[ResumableMultipartSink].startOrResume())
    } else {
      sink.start()
      // from here on the upload is live: any failure — job error or a
      // failed placement audit — must abort it, or the half-uploaded MPU
      // leaks (on S3 proper, incomplete uploads accrue storage until
      // aborted; the reference aborts on failure too,
      // ccog/aws_tools.py:168-175)
      try writeStarted(blobs, totalBytes, target, maxSlices, sink, Map.empty)
      catch {
        case e: Throwable =>
          try sink.abort()
          catch { case a: Throwable => e.addSuppressed(a) }
          throw e
      }
    }
  }

  /** True iff the locally assembled bytes are byte-identical to what
    * the store already holds for this part, proven by integrity token
    * — never by size alone. */
  private def verifiedSame(remote: PartReceipt, bytes: Array[Byte],
      sink: MultipartSink): Boolean = {
    if (remote.size != bytes.length.toLong) return false
    sink.partChecksum(bytes) match {
      case Some(local) => remote.checksumCrc32c.contains(local)
      case None =>
        // plain uploads: a multipart part's ETag is the hex MD5 of its
        // bytes (un-encrypted path); anything else is unverifiable →
        // re-upload (idempotent re-PUT), never trust blindly
        remote.etag.length == 32 &&
          remote.etag.forall(c => Character.digit(c, 16) >= 0) &&
          Digests.md5hex(bytes) == remote.etag.toLowerCase(java.util.Locale.ROOT)
    }
  }

  private def writeStarted(blobs: RDD[Blob], totalBytes: Long, target: Long,
      maxSlices: Int, sink: MultipartSink,
      preUploaded: Map[Int, PartReceipt]): Seq[PartReceipt] = {
    // the part count is known up front, so contiguous partNumber
    // ranges map onto partitions arithmetically — no range sampling job
    val nParts = (totalBytes - 1) / target + 1
    val slices = math.max(1L, math.min(nParts, maxSlices.toLong)).toInt
    val receipts = blobs
      .map(b => (b.offset, b.bytes))
      .repartitionAndSortWithinPartitions(new PartRangePartitioner(target, nParts, slices))
      .mapPartitions { it =>
        val out = Seq.newBuilder[PartReceipt]
        var curPart = -1L
        var curOffset = 0L
        var size = 0L
        val held = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        def flush(): Unit = if (size > 0) {
          // one copy, into an array of the part's exact size that
          // belongs to this part alone (the partChecksum contract);
          // toIntExact refuses a part past the JVM's array limit
          val bytes = new Array[Byte](Math.toIntExact(size))
          var at = 0
          held.foreach { b => System.arraycopy(b, 0, bytes, at, b.length); at += b.length }
          val pn = curPart.toInt
          out += (preUploaded.get(pn) match {
            case Some(remote) if verifiedSame(remote, bytes, sink) =>
              // the store already holds these exact bytes: reuse the
              // remote receipt, zero bytes re-uploaded
              PartReceipt(pn, curOffset, size, remote.etag, sink.partChecksum(bytes))
            case _ =>
              PartReceipt(pn, curOffset, size, sink.uploadPart(pn, bytes),
                sink.partChecksum(bytes))
          })
        }
        it.foreach { case (off, bytes) =>
          val pn = off / target + 1
          if (pn != curPart) {
            flush()
            held.clear()
            curPart = pn
            curOffset = off
            size = 0L
          }
          held += bytes
          size += bytes.length
        }
        flush()
        out.result().iterator
      }
      .collect().sortBy(_.partNumber).toSeq

    // contiguity audit before finalize (the reference asserts placement
    // too, ccog/aws_tools.py:230)
    require(receipts.nonEmpty && receipts.head.offset == 0L, "missing first part")
    receipts.sliding(2).foreach {
      case Seq(a, b) => require(a.offset + a.size == b.offset,
        s"gap between part ${a.partNumber} and ${b.partNumber}")
      case _ => ()
    }
    require(receipts.map(_.size).sum == totalBytes,
      s"assembled ${receipts.map(_.size).sum} != expected $totalBytes bytes")
    require(receipts.size <= S3MaxPartCount, s"part count ${receipts.size} > 10000")
    sink.complete(receipts)
    receipts
  }
}

/** Contiguous part ranges onto `slices` partitions, keyed by byte
  * offset: the blob at offset o is in part p = o/target + 1, and part p
  * goes to slice (p − 1)·slices/nParts. The slice never decreases as
  * the offset grows, and every offset of a part maps to the part's one
  * slice. A stray offset (negative, or past the object) is clamped to
  * the first or last part's slice, so it reaches the writer's
  * contiguity audit instead of failing the shuffle. */
private[sink] final class PartRangePartitioner(target: Long, nParts: Long, slices: Int)
    extends Partitioner {
  require(target > 0 && nParts > 0 && slices > 0,
    s"target $target, $nParts parts, $slices slices")
  override def numPartitions: Int = slices
  override def getPartition(key: Any): Int = {
    val pn = math.min(nParts, math.max(1L, key.asInstanceOf[Long] / target + 1))
    ((pn - 1) * slices / nParts).toInt
  }
}
