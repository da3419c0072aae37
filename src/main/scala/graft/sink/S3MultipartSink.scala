package graft.sink

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** MultipartSink speaking the real S3 REST multipart-upload protocol
  * (reference ccog/aws_tools.py:59-178 uses the SDK's
  * create_multipart_upload / upload_part / complete_multipart_upload /
  * abort_multipart_upload — this is the same wire surface, hand-rolled
  * on the JDK HttpClient so it carries zero dependencies):
  *
  *   start      POST   /{bucket}/{key}?uploads            → UploadId
  *   uploadPart PUT    /{bucket}/{key}?partNumber=N&uploadId=…  → ETag
  *   complete   POST   /{bucket}/{key}?uploadId=…  (XML part list)
  *   abort      DELETE /{bucket}/{key}?uploadId=…
  *
  * With `credentials = Some(SigV4.Credentials(...))` every request is
  * SigV4-signed (the scheme real AWS requires; [[SigV4]] is pinned
  * against AWS's published test vectors, and [[MockS3Server]] verifies
  * our signatures server-side). Without credentials the sink talks to
  * sigv4-exempt endpoints (localhost gateways, CI mocks, anonymous
  * proxies) unchanged. Semantics matched to S3 proper:
  *
  *  - uploadPart is idempotent: re-PUTting a partNumber replaces it
  *    (Spark task retries/speculation lean on this, R33);
  *  - executors each hold their own HttpClient (@transient lazy) and
  *    stream parts directly — the driver never sees part bytes, so the
  *    path scales with executor count, not driver memory;
  *  - 5xx, 429 and connection failures retry with exponential backoff
  *    on the read path's [[graft.sources.RangeRetryPolicy]]; other 4xx
  *    fail fast (a NoSuchUpload/EntityTooSmall retried forever would
  *    mask a real bug);
  *  - complete() treats an HTTP-200 response whose body is an
  *    {@code <Error>} document as the failure it is — S3 really does
  *    return 200-with-error for CompleteMultipartUpload, and swallowing
  *    it would sign off a torn object.
  */
class S3MultipartSink(endpoint: String, bucket: String, key: String,
    maxAttempts: Int = 4, backoffMs: Long = 50L,
    credentials: Option[SigV4.Credentials] = None,
    region: String = "us-east-1",
    virtualHost: Boolean = false,
    crc32c: Boolean = false,
    ifNoneMatch: Boolean = false) extends ResumableMultipartSink {

  private val retry = graft.sources.RangeRetryPolicy(maxAttempts, backoffMs)
  // fail at construction with the -D flag named, not per-task deep in
  // an executor with the JDK's opaque "restricted header" error
  if (virtualHost) SigV4.requireHostHeaderAllowed()

  // set by start() on the driver BEFORE the upload job serializes the
  // sink into its closure; executors read the captured value
  private var uploadId: String = _

  @transient private lazy val http: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** Virtual-hosted (AWS's default dialect): the bucket rides the Host
    * header (`bucket.host/key`) and the canonical path is just the key;
    * path-style keeps `/bucket/key` on the bare endpoint. The socket
    * always dials `endpoint` — virtual mode presents the bucket
    * authority via an explicit Host header (what the dialect actually
    * signs and routes on), so it works against wildcard-DNS services
    * and fixed-address gateways alike. */
  private def objectPath: String = if (virtualHost) s"/$key" else s"/$bucket/$key"
  private def hostHeader: Option[String] =
    if (virtualHost)
      Some(URI.create(SigV4.virtualEndpoint(endpoint, bucket)).getAuthority)
    else None

  /** Build the request; when credentials are present, SigV4-sign it
    * (headers host + x-amz-date + x-amz-content-sha256, plus
    * x-amz-security-token for STS creds). The URL's path/query use the
    * same encoder the signature is computed over, so server-side
    * verification sees byte-identical canonical forms. The Host header
    * is the URI authority (path-style, JDK default) or the explicit
    * bucket authority (virtual-hosted) — in both cases exactly the
    * value signed here. */
  private def buildRequest(method: String, query: Seq[(String, String)],
      body: Array[Byte], contentType: Option[String] = None,
      amzHeaders: Seq[(String, String)] = Nil): HttpRequest = {
    val qs = SigV4.canonicalQuery(query)
    val uri = URI.create(
      s"$endpoint${SigV4.uriEncode(objectPath, encodeSlash = false)}" +
        (if (qs.isEmpty) "" else s"?$qs"))
    val b = HttpRequest.newBuilder(uri).method(method,
      if (body == null) HttpRequest.BodyPublishers.noBody()
      else HttpRequest.BodyPublishers.ofByteArray(body))
    contentType.foreach(ct => b.header("Content-Type", ct))
    // requires -Djdk.httpclient.allowRestrictedHeaders=host (set for
    // this repo's forked test/run JVMs in build.sbt)
    hostHeader.foreach(h => b.header("Host", h))
    // x-amz-* headers (e.g. checksums) must ride INSIDE the signature —
    // S3 refuses unsigned amz headers
    amzHeaders.foreach { case (k, v) => b.header(k, v) }
    signer.foreach(_.sign(b, method, uri,
      if (body == null) SigV4.EmptyPayloadHash else SigV4.sha256Hex(body),
      extraSigned = amzHeaders, hostOverride = hostHeader))
    b.build()
  }

  @transient private lazy val signer: Option[SigV4.RequestSigner] =
    credentials.map(new SigV4.RequestSigner(_, region))

  /** Send through [[retry]] (the request is re-built, so re-signed,
    * per attempt); a non-retried 4xx raises at once. `transientBody`
    * marks 2xx responses that must retry anyway — AWS documents
    * CompleteMultipartUpload/UploadPartCopy answering HTTP 200 with an
    * `<Error><Code>InternalError</Code>` body the client should treat
    * like a 5xx; aborting there would discard a fully-uploaded MPU
    * over a transient commit hiccup. */
  private def send(mk: () => HttpRequest, what: String,
      transientBody: String => Boolean = _ => false): HttpResponse[String] = {
    val transient = (r: HttpResponse[String]) =>
      r.statusCode() / 100 == 2 && transientBody(r.body())
    val r = retry.send(http, what, mk, HttpResponse.BodyHandlers.ofString(), transient)
    if (retry.retryable(r.statusCode()) || transient(r)) throw new java.io.IOException(
      s"$what failed after $maxAttempts attempts: HTTP ${r.statusCode()} ${r.body().take(500)}")
    checkedOk(r, what)
  }

  /** The documented retry-a-200 case: an embedded Error document whose
    * Code is InternalError. Any OTHER embedded Error stays a loud
    * protocol failure at the call site. */
  private def transient200(body: String): Boolean =
    xmlText(body, "Error").isDefined &&
      xmlText(body, "Code").contains("InternalError")

  private def checkedOk(r: HttpResponse[String], what: String): HttpResponse[String] = {
    require(r.statusCode() / 100 == 2,
      s"$what rejected: HTTP ${r.statusCode()} ${r.body().take(500)}")
    r
  }

  /** Pull one element's text out of a small S3 XML response — through
    * [[S3Xml]]'s shared (doctype-free, namespace-prefix-tolerant)
    * lookup, not a private re-implementation that would drift from
    * the janitor's and listing's parsing. A body that isn't
    * well-formed XML yields None — callers treat a missing expected
    * element as the protocol error it is. */
  private def xmlText(body: String, element: String): Option[String] =
    try S3Xml.elements(S3Xml.parse(body.getBytes("UTF-8")), element)
      .headOption.map(_.getTextContent)
    catch { case _: org.xml.sax.SAXException => None }

  override def start(): Unit = {
    // checksummed uploads must DECLARE the algorithm at initiation —
    // real S3 refuses per-part x-amz-checksum-crc32c headers on an
    // upload created without x-amz-checksum-algorithm
    val r = send(() => buildRequest("POST", Seq("uploads" -> ""), null,
      amzHeaders = if (crc32c) Seq("x-amz-checksum-algorithm" -> "CRC32C") else Nil),
      "initiate multipart upload")
    uploadId = xmlText(r.body(), "UploadId").getOrElse(
      throw new java.io.IOException(
        s"initiate response carried no UploadId: ${r.body().take(500)}"))
  }

  /** Crash-resume entry: adopt the key's single in-flight upload
    * (discovered with the janitor's ListMultipartUploads walk) and
    * return what it already holds via [[listParts]]; no in-flight
    * upload → fresh [[start]], empty map. Several in-flight uploads
    * for the same key are refused loudly — S3 allows them, but
    * resuming an arbitrary one races the others' writers and strands
    * their storage; `S3MpuJanitor.reap` first, then retry.
    *
    * HARD PRECONDITION — single writer per key: adoption has no
    * liveness or ownership check, because S3 exposes none that can
    * tell a crashed writer's upload from a still-running one under
    * the same principal (ListMultipartUploads returns only
    * Initiator/Initiated; initiate-time metadata is not listable).
    * A resume racing a live writer of the same key would interleave
    * uploadPart/complete on one MPU. Callers must ensure the prior
    * writer is DEAD before resuming — the `s3.resume=true` write
    * option documents the same contract at the API surface, and the
    * multi-upload refusal above still catches the two-Initiate shape
    * of the race. */
  override def startOrResume(): Map[Int, PartReceipt] = {
    val live = S3MpuJanitor.listUploads(endpoint, bucket, prefix = key,
        credentials, region, virtualHost)
      .filter(_.key == key)
    live match {
      case Seq() => start(); Map.empty
      case Seq(u) =>
        uploadId = u.uploadId
        listParts().map(p => p.partNumber -> p).toMap
      case many => throw new java.io.IOException(
        s"cannot resume $bucket/$key: ${many.size} in-flight multipart " +
          s"uploads (${many.map(_.uploadId).mkString(", ")}) — reap the " +
          "stale ones (S3MpuJanitor.reap) before retrying")
    }
  }

  /** Every part the in-flight upload holds, across however many
    * ListParts pages the server needs:
    *
    *   GET /{bucket}/{key}?uploadId=…[&part-number-marker=N]
    *
    * Receipt offsets are 0 (unknown to the service — the resume path
    * re-derives placement locally and verifies by size + checksum,
    * never by offset). */
  def listParts(maxPages: Int = 10000): Seq[PartReceipt] = {
    require(uploadId != null, "listParts before start()/startOrResume()")
    import S3Xml.{elements, text}
    val out = scala.collection.mutable.ArrayBuffer.empty[PartReceipt]
    var marker: Option[String] = None
    var pages = 0
    var more = true
    while (more) {
      if (pages >= maxPages) throw new java.io.IOException(
        s"ListParts of $bucket/$key upload $uploadId still truncated " +
          s"after $maxPages pages")
      pages += 1
      val r = send(() => buildRequest("GET", Seq("uploadId" -> uploadId) ++
        marker.map("part-number-marker" -> _).toSeq, null), "list parts")
      val doc = S3Xml.parse(r.body().getBytes("UTF-8"))
      val root = S3Xml.root(doc, "ListPartsResult").getOrElse(
        throw new java.io.IOException(
          s"not a ListPartsResult: ${r.body().take(300)}"))
      out ++= elements(doc, "Part").flatMap { el =>
        for (pn <- text(el, "PartNumber"); etag <- text(el, "ETag");
            size <- text(el, "Size"))
          yield PartReceipt(pn.trim.toInt, 0L, size.trim.toLong,
            etag.trim.stripPrefix("\"").stripSuffix("\""),
            text(el, "ChecksumCRC32C").map(_.trim))
      }
      val truncated = text(root, "IsTruncated").exists(_.trim == "true")
      marker =
        if (truncated) Some(text(root, "NextPartNumberMarker").getOrElse(
          throw new java.io.IOException(
            "truncated ListParts page without NextPartNumberMarker")).trim)
        else None
      more = truncated
    }
    out.sortBy(_.partNumber).toSeq
  }

  /** Object-integrity mode: every part's base64 CRC32C rides the
    * signed `x-amz-checksum-crc32c` header so the service verifies the
    * body it RECEIVED (in-flight corruption is refused with 400
    * BadDigest, not stored). Called twice per part on the executor hot
    * path (header in uploadPart + receipt stamp in the writer) — the
    * reference-equality cache hashes each part's bytes once, not
    * twice. Sinks deserialize per task, so no cross-thread sharing. */
  @transient private var crcCache: (Array[Byte], String) = _
  override def partChecksum(bytes: Array[Byte]): Option[String] =
    if (!crc32c) None
    else {
      val c = crcCache
      if (c != null && (c._1 eq bytes)) Some(c._2)
      else {
        val v = S3Checksums.crc32cB64(bytes)
        crcCache = (bytes, v)
        Some(v)
      }
    }

  override def uploadPart(partNumber: Int, bytes: Array[Byte]): String = {
    require(uploadId != null, "uploadPart before start()")
    val checksum = partChecksum(bytes)
    val r = send(() => buildRequest("PUT",
      Seq("partNumber" -> partNumber.toString, "uploadId" -> uploadId), bytes,
      amzHeaders = checksum.map("x-amz-checksum-crc32c" -> _).toSeq),
      s"upload part $partNumber")
    // the service echoes the checksum it verified; a missing or
    // different echo means the stored part is not the one we hashed
    checksum.foreach { c =>
      val echoed = r.headers().firstValue("x-amz-checksum-crc32c").orElse("")
      require(echoed == c,
        s"part $partNumber checksum echo mismatch: sent $c, service returned '$echoed'")
    }
    val etag = r.headers().firstValue("ETag").orElse("")
    require(etag.nonEmpty, s"part $partNumber response carried no ETag")
    etag.stripPrefix("\"").stripSuffix("\"")
  }

  /** Upload a part whose bytes come from an EXISTING object — S3's
    * server-side UploadPartCopy: no data leaves the store, so
    * compaction of N objects moves zero bytes through the compactor.
    * `range` is an inclusive (from, to) byte window of the source.
    * Returns the part's ETag (from the CopyPartResult BODY — unlike
    * uploadPart, the copy dialect answers in XML, and a 200 here can
    * still carry an <Error> document, same trap as complete). */
  def uploadPartCopy(partNumber: Int, sourceBucket: String, sourceKey: String,
      size: Long, offset: Long = 0L,
      range: Option[(Long, Long)] = None): PartReceipt = {
    require(uploadId != null, "uploadPartCopy before start()")
    val headers = Seq("x-amz-copy-source" ->
        SigV4.uriEncode(s"/$sourceBucket/$sourceKey", encodeSlash = false)) ++
      range.map { case (from, to) =>
        require(from >= 0 && to >= from, s"bad copy range $from-$to")
        "x-amz-copy-source-range" -> s"bytes=$from-$to"
      }.toSeq
    val r = send(() => buildRequest("PUT",
      Seq("partNumber" -> partNumber.toString, "uploadId" -> uploadId),
      null, amzHeaders = headers), s"upload part copy $partNumber",
      transientBody = transient200)
    if (xmlText(r.body(), "Error").isDefined ||
        xmlText(r.body(), "CopyPartResult").isEmpty)
      throw new java.io.IOException(
        s"part copy $partNumber returned no CopyPartResult: ${r.body().take(500)}")
    val etag = xmlText(r.body(), "ETag").getOrElse(throw new java.io.IOException(
      s"CopyPartResult for part $partNumber carried no ETag"))
      .trim.stripPrefix("\"").stripSuffix("\"")
    // checksummed uploads: the service computes the copied part's
    // checksum (we never saw the bytes) and the complete() part list
    // must carry it
    val ck = if (crc32c) {
      val c = xmlText(r.body(), "ChecksumCRC32C")
      if (c.isEmpty) throw new java.io.IOException(
        s"crc32c upload: CopyPartResult for part $partNumber carried no ChecksumCRC32C")
      c.map(_.trim)
    } else None
    PartReceipt(partNumber, offset, size, etag, ck)
  }

  override def complete(receipts: Seq[PartReceipt]): Unit = {
    require(uploadId != null, "complete before start()")
    val xml = receipts.map { p =>
      val ck = if (crc32c) {
        val c = p.checksumCrc32c.getOrElse(throw new IllegalArgumentException(
          s"crc32c sink: receipt for part ${p.partNumber} carries no checksum"))
        s"<ChecksumCRC32C>$c</ChecksumCRC32C>"
      } else ""
      s"<Part><PartNumber>${p.partNumber}</PartNumber><ETag>\"${p.etag}\"</ETag>$ck</Part>"
    }.mkString("<CompleteMultipartUpload>", "", "</CompleteMultipartUpload>")
    // conditional create (`If-None-Match: *`): the service refuses with
    // 412 if the key already exists — the append-race safety RENAME
    // provides on a real filesystem but S3 has no rename for. 4xx
    // fail-fast makes the losing writer fail loudly, not overwrite.
    val r = send(() => buildRequest("POST", Seq("uploadId" -> uploadId),
      xml.getBytes("UTF-8"), Some("application/xml"),
      amzHeaders = if (ifNoneMatch) Seq("If-None-Match" -> "*") else Nil),
      "complete multipart upload", transientBody = transient200)
    // S3 can answer CompleteMultipartUpload with 200 + an <Error> body;
    // anything other than a well-formed CompleteMultipartUploadResult
    // means the object was NOT committed
    if (xmlText(r.body(), "Error").isDefined ||
        xmlText(r.body(), "CompleteMultipartUploadResult").isEmpty)
      throw new java.io.IOException(
        s"complete returned HTTP 200 without a commit confirmation: ${r.body().take(500)}")
    if (crc32c) {
      // composite checksum-of-checksums (base64(crc32c(part crc bytes))
      // + "-N") — the documented multipart form; a silent mismatch here
      // would sign off an object assembled from different bytes
      val expect = S3Checksums.composite(receipts.map(_.checksumCrc32c.get))
      val got = xmlText(r.body(), "ChecksumCRC32C").getOrElse("")
      if (got != expect) throw new java.io.IOException(
        s"composite checksum mismatch: expected $expect, service returned '$got'")
    }
  }

  /** Single-request PutObject through the same signing/retry/dialect
    * machinery — the small-object path (an MPU costs 3 round-trips and
    * S3 refuses parts under 5 MiB anyway). With the sink's
    * `ifNoneMatch`, the PUT is a conditional CREATE: exactly one of N
    * concurrent writers of the same key succeeds, the rest fail
    * loudly with 412. */
  def putObject(bytes: Array[Byte]): String = {
    val checksum = partChecksum(bytes)
    val r = send(() => buildRequest("PUT", Nil, bytes,
      amzHeaders = checksum.map("x-amz-checksum-crc32c" -> _).toSeq ++
        (if (ifNoneMatch) Seq("If-None-Match" -> "*") else Nil)),
      s"put object $key")
    val etag = r.headers().firstValue("ETag").orElse("")
    require(etag.nonEmpty, s"put object response carried no ETag")
    etag.stripPrefix("\"").stripSuffix("\"")
  }

  override def abort(): Unit = {
    require(uploadId != null, "abort before start()")
    send(() => buildRequest("DELETE", Seq("uploadId" -> uploadId), null),
      "abort multipart upload")
    uploadId = null
  }
}

/** S3 object-integrity checksums (public algorithm spec): per-part
  * CRC32C as base64 of the 4 big-endian value bytes; the multipart
  * object's composite is base64(crc32c(concat(part checksum bytes)))
  * suffixed with `-partCount`. `java.util.zip.CRC32C` is the JDK's
  * (Castagnoli) implementation. */
object S3Checksums {

  def crc32cBytes(bytes: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes)
    val v = c.getValue.toInt
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  }

  def crc32cB64(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(crc32cBytes(bytes))

  /** Composite checksum over the parts' base64 CRC32C values, in part
    * order: checksum-of-checksums over the decoded 4-byte values. */
  def composite(partChecksumsB64: Seq[String]): String = {
    val cat = new java.io.ByteArrayOutputStream()
    partChecksumsB64.foreach(c =>
      cat.write(java.util.Base64.getDecoder.decode(c)))
    s"${crc32cB64(cat.toByteArray)}-${partChecksumsB64.size}"
  }
}
