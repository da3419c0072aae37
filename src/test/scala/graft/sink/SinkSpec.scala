package graft.sink

import graft.SparkSpec
import java.nio.file.Files

/** OrderedMultipartWriter invariants (SURVEY §5.2-3e): parts contiguous
  * and order-preserving, every non-final part ≥ 5 MiB, count ≤ 10,000,
  * idempotent re-upload, byte-identical assembly. */
class SinkSpec extends SparkSpec {

  def tmp(): String = Files.createTempDirectory("graft-sink").toString

  /** Deterministic pseudo-random blob stream totalling ~`totalMiB`. */
  def blobStream(totalMiB: Int): (Seq[Blob], Array[Byte]) = {
    val rnd = new scala.util.Random(7)
    val blobs = Seq.newBuilder[Blob]
    var off = 0L
    val whole = new java.io.ByteArrayOutputStream()
    while (off < (totalMiB.toLong << 20)) {
      val n = 64 * 1024 + rnd.nextInt(3 << 20) // 64 KiB .. ~3 MiB
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      blobs += Blob(off, b)
      whole.write(b)
      off += n
    }
    (blobs.result(), whole.toByteArray)
  }

  test("packing: contiguous parts, >=5MiB non-final, assembled == input") {
    val s = spark
    import s.implicits._
    val (blobs, expect) = blobStream(48)
    val total = expect.length.toLong
    val maxBlob = blobs.map(_.bytes.length.toLong).max
    val sink = new LocalMultipartSink(tmp())
    val receipts = OrderedMultipartWriter.write(
      s.createDataset(blobs), total, maxBlob, sink)

    assert(receipts.map(_.partNumber) == receipts.map(_.partNumber).sorted)
    assert(receipts.map(_.partNumber).distinct.size == receipts.size)
    assert(receipts.size <= OrderedMultipartWriter.S3MaxPartCount)
    for (r <- receipts.dropRight(1))
      assert(r.size >= OrderedMultipartWriter.S3MinPart,
        s"part ${r.partNumber} under 5 MiB: ${r.size}")
    assert(java.util.Arrays.equals(sink.assembled, expect))
  }

  test("target part size respects the 10k cap and the 5MiB+maxBlob floor") {
    val t1 = OrderedMultipartWriter.targetPartSize(100L << 20, 2L << 20)
    assert(t1 == 16L << 20) // default wins
    val t2 = OrderedMultipartWriter.targetPartSize(100L << 20, 20L << 20)
    assert(t2 == (5L << 20) + (20L << 20)) // maxBlob floor wins
    val t3 = OrderedMultipartWriter.targetPartSize(1L << 40, 2L << 20)
    assert(t3 >= (1L << 40) / 10000) // cap wins
    assert((1L << 40) / t3 <= 10000)
  }

  test("HadoopMultipartSink: same packing through the FileSystem API") {
    val s = spark
    import s.implicits._
    val (blobs, expect) = blobStream(24)
    val sink = new HadoopMultipartSink("file://" + tmp())
    OrderedMultipartWriter.write(
      s.createDataset(blobs), expect.length.toLong,
      blobs.map(_.bytes.length.toLong).max, sink)
    assert(java.util.Arrays.equals(sink.assembled, expect))
  }

  test("uploadPart is idempotent: re-upload overwrites, assembly unchanged") {
    val sink = new LocalMultipartSink(tmp())
    sink.start()
    sink.uploadPart(1, Array[Byte](9, 9, 9))
    sink.uploadPart(2, Array[Byte](4, 4))
    sink.uploadPart(1, Array[Byte](1, 2, 3)) // task retry
    assert(sink.assembled.toSeq == Seq[Byte](1, 2, 3, 4, 4))
    assert(sink.partNumbers == Seq(1, 2))
  }

  test("lost-rename-race check requires matching content, not just length") {
    val dir = tmp()
    val sink = new HadoopMultipartSink("file://" + dir)
    sink.start()
    val dest = new org.apache.hadoop.fs.Path("file://" + dir, "part-00001.bin")
    val mine = Array[Byte](1, 2, 3, 4)
    // missing dest: not landed
    assert(!sink.raceLanded(dest, mine))
    // same length, different content: a same-length foreign/non-deterministic
    // part must NOT be silently accepted as this attempt's success
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-00001.bin"),
      Array[Byte](9, 9, 9, 9))
    assert(!sink.raceLanded(dest, mine))
    // identical content: the winner wrote our bytes — success
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-00001.bin"), mine)
    assert(sink.raceLanded(dest, mine))
    // different length: not landed
    assert(!sink.raceLanded(dest, Array[Byte](1, 2, 3)))
  }

  test("arithmetic packing: 1 part and part counts below, at and above the shuffle partitions") {
    val s = spark
    import s.implicits._
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    // fixed-size blobs: every part boundary is a blob start
    for (nParts <- Seq(1, 3, 4, 7)) {
      val (blobs, expect) = SinkSpec.alignedBlobs(nParts)
      val sink = new LocalMultipartSink(tmp())
      val receipts = OrderedMultipartWriter.write(s.createDataset(blobs),
        expect.length.toLong, SinkSpec.AlignedBlob, sink, defaultPart = 0L)
      assert(receipts.size == nParts)
      assert(receipts == SinkSpec.packingPlan(blobs, SinkSpec.AlignedTarget), s"$nParts parts")
      assert(java.util.Arrays.equals(sink.assembled, expect), s"$nParts parts")
    }
    // random sizes: boundaries fall inside blobs
    val (blobs, expect) = blobStream(48)
    val maxBlob = blobs.map(_.bytes.length.toLong).max
    val sink = new LocalMultipartSink(tmp())
    val receipts = OrderedMultipartWriter.write(s.createDataset(blobs),
      expect.length.toLong, maxBlob, sink, defaultPart = 0L)
    assert(receipts.size > 4)
    assert(receipts == SinkSpec.packingPlan(blobs,
      OrderedMultipartWriter.targetPartSize(expect.length.toLong, maxBlob, 0L)))
    assert(java.util.Arrays.equals(sink.assembled, expect))
  }

  test("part-range partitioner: monotone slices, one slice per part, strays clamped") {
    val target = 1000L
    val rnd = new scala.util.Random(3)
    for (nParts <- Seq(1L, 3L, 4L, 7L, 9000L); slices <- Seq(1, 2, 4, 8)) {
      val p = new PartRangePartitioner(target, nParts, slices)
      val total = nParts * target - target / 3 // the last part is short
      val offsets = (Seq(-1L, -target, 0L, total - 1, total, total + target, Long.MaxValue) ++
        (1L until nParts).flatMap(pn => Seq(pn * target - 1, pn * target)) ++
        Seq.fill(2000)((rnd.nextDouble() * total).toLong)).sorted
      val slice = offsets.map(p.getPartition)
      val what = s"$nParts parts, $slices slices"
      assert(slice.forall(s => s >= 0 && s < slices), what)
      assert(slice == slice.sorted, s"$what: the slice decreases as the offset grows")
      val inRange = offsets.zip(slice).filter { case (o, _) => o >= 0 && o < total }
      val slicesOfPart = inRange.groupBy(_._1 / target).map(_._2.map(_._2).distinct)
      assert(slicesOfPart.size == nParts && slicesOfPart.forall(_.size == 1),
        s"$what: a part split across slices")
      if (nParts >= slices) assert(slice.distinct.size == slices, s"$what: an empty slice")
      // strays clamp onto the first and last parts' slices
      assert(p.getPartition(-1L) == 0 && p.getPartition(Long.MinValue) == 0, what)
      assert(p.getPartition(total) == p.getPartition(total - 1), what)
      assert(p.getPartition(Long.MaxValue) == p.getPartition(total - 1), what)
    }
  }

  test("a stray blob offset is refused by the contiguity audit and the upload aborted") {
    val s = spark
    import s.implicits._
    val (blobs, expect) = SinkSpec.alignedBlobs(3)
    val total = expect.length.toLong
    for (stray <- Seq(Blob(-10L, new Array[Byte](10)), Blob(total, new Array[Byte](10)))) {
      val dir = tmp()
      val sink = new LocalMultipartSink(dir)
      val e = intercept[IllegalArgumentException](OrderedMultipartWriter.write(
        s.createDataset(blobs :+ stray), total, SinkSpec.AlignedBlob, sink, defaultPart = 0L))
      assert(e.getMessage.contains("missing first part") || e.getMessage.contains("!= expected"),
        e.getMessage)
      // the parts were uploaded, then the abort dropped every one
      assert(sink.partNumbers.isEmpty, s"offset ${stray.offset}")
      assert(!Files.exists(java.nio.file.Paths.get(dir, "manifest.json")))
    }
  }
}

object SinkSpec {

  /** 256 KiB blobs under the 5 MiB + maxBlob target floor: the target
    * is exactly 21 blobs, so every part starts on a blob. */
  val AlignedBlob: Long = 256L << 10
  val AlignedTarget: Long = OrderedMultipartWriter.S3MinPart + AlignedBlob

  def alignedBlobs(nParts: Int): (Seq[Blob], Array[Byte]) = {
    val rnd = new scala.util.Random(nParts)
    // the last part holds a third of a target
    val n = (nParts - 1) * (AlignedTarget / AlignedBlob).toInt + 7
    val blobs = (0 until n).map { i =>
      val b = new Array[Byte](AlignedBlob.toInt)
      rnd.nextBytes(b)
      Blob(i * AlignedBlob, b)
    }
    (blobs, blobs.flatMap(_.bytes).toArray)
  }

  /** The receipts a part plan that keeps each partNumber = offset /
    * target + 1 whole and in offset order must produce, ETag = MD5. */
  def packingPlan(blobs: Seq[Blob], target: Long): Seq[PartReceipt] =
    blobs.sortBy(_.offset).groupBy(_.offset / target + 1).toSeq.sortBy(_._1).map {
      case (pn, bs) =>
        val bytes = bs.flatMap(_.bytes).toArray
        PartReceipt(pn.toInt, bs.head.offset, bytes.length.toLong, Digests.md5hex(bytes))
    }
}
