package graft.sink

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.collection.immutable.SortedMap

/** In-process S3 stand-in for the multipart-upload protocol, built on
  * the JDK's own HTTP server — no egress, no dependencies. Implements
  * the MPU semantics the real service enforces so S3MultipartSink is
  * tested against the contract, not against itself:
  *
  *  - ETag = quoted hex MD5 of the part body (what S3 returns);
  *  - complete() validates the part list: upload must exist
  *    (NoSuchUpload, 404), listed parts must all be uploaded
  *    (InvalidPart, 400), part numbers strictly ascending
  *    (InvalidPartOrder, 400), ETags must match (InvalidPart, 400),
  *    every non-final part >= 5 MiB (EntityTooSmall, 400);
  *  - re-PUT of a partNumber replaces the part (idempotent retries);
  *  - abort drops the upload; a later complete sees NoSuchUpload.
  *
  * Failure injection for client-retry tests: `failNextRequests(n)`
  * makes the next n requests answer 500 InternalError;
  * `errorBodyOnNextComplete()` makes the next complete answer the
  * infamous HTTP-200-with-<Error>-body that real S3 can produce.
  */
class MockS3Server {

  private val uploads = TrieMap.empty[String, TrieMap[Int, (Array[Byte], String)]]
  // objKey each live upload was initiated for (ListMultipartUploads)
  private val uploadKeys = TrieMap.empty[String, String]
  // declared x-amz-checksum-algorithm per upload: real S3 refuses
  // per-part checksum headers unless the MPU was created with the
  // matching algorithm declaration
  private val uploadAlgorithms = TrieMap.empty[String, String]
  private val objects = TrieMap.empty[String, Array[Byte]]
  private val fail500 = new AtomicInteger(0)
  private val errorBodyCompletes = new AtomicInteger(0)
  private val uploadSeq = new AtomicInteger(0)
  val minPartSize: Long = 5L << 20

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  // the server never shuts down the executor it is given; stop() must,
  // or its 8 non-daemon threads outlive the server and hold the JVM
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)
  server.start()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }

  def failNextRequests(n: Int): Unit = fail500.set(n)
  def errorBodyOnNextComplete(): Unit = errorBodyOnCompletes(1)
  /** Inject `n` consecutive 200-with-<Error> complete answers carrying
    * `code` — InternalError is AWS's documented retry-me case; any
    * other code must stay a loud client-side protocol failure. */
  def errorBodyOnCompletes(n: Int, code: String = "InternalError"): Unit = {
    errorBodyCode = code
    errorBodyCompletes.set(n)
  }
  @volatile private var errorBodyCode: String = "InternalError"
  /** Answer the next `n` part PUTs with 429 SlowDown (S3's throttle
    * reply), storing nothing. */
  def throttleNextPartPuts(n: Int): Unit = throttledParts.set(n)
  def throttledPartPuts: Int = throttledPartCount.get()
  private val throttledParts = new AtomicInteger(0)
  private val throttledPartCount = new AtomicInteger(0)
  /** Simulate in-flight corruption of the next checksummed part body:
    * the server verifies the client's x-amz-checksum-crc32c against
    * bytes that differ from what was sent → 400 BadDigest. */
  def corruptNextPartChecksum(): Unit = corruptParts.set(1)
  /** Answer the next (checksummed) complete with a bogus composite
    * checksum — the client must refuse it. */
  def wrongCompositeOnNextComplete(): Unit = wrongComposite.set(1)
  def checksumVerifiedParts: Int = checksumVerified.get()
  private val corruptParts = new AtomicInteger(0)
  private val wrongComposite = new AtomicInteger(0)
  private val checksumVerified = new AtomicInteger(0)
  /** Parts assembled server-side via x-amz-copy-source (no body egress). */
  def copyParts: Int = copyPartCount.get()
  private val copyPartCount = new AtomicInteger(0)

  /** Every body-carrying UploadPart the server accepted, in arrival
    * order: (uploadId, partNumber, bytes). Resume tests diff this
    * ledger around a restart to prove zero re-uploaded bytes. */
  def partUploads: Seq[(String, Int, Long)] = {
    import scala.jdk.CollectionConverters._
    partPutLog.iterator().asScala.toSeq
  }
  private val partPutLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()

  /** Authenticated mode: every request must carry a valid SigV4
    * signature for `creds` (header auth, or query auth for presigned
    * URLs) or it is refused with 403, like real S3. The mock
    * recomputes the signature from the request it actually received —
    * method, path, query, signed headers, and the body it read — so a
    * client that signs the wrong payload, forgets a header, or signs a
    * different canonical form than it sends is caught even though both
    * sides share the [[SigV4]] primitives (whose correctness is pinned
    * independently by SigV4Spec's published AWS vectors). */
  def requireSigV4(creds: SigV4.Credentials, region: String = "us-east-1"): Unit =
    sigCheck = Some((creds, region))
  def verifiedRequestCount: Int = sigVerified.get()

  @volatile private var sigCheck: Option[(SigV4.Credentials, String)] = None
  private val sigVerified = new AtomicInteger(0)
  def storedObject(bucket: String, key: String): Option[Array[Byte]] =
    objects.get(s"$bucket/$key")
  def putObject(bucket: String, key: String, bytes: Array[Byte]): Unit =
    objects.put(s"$bucket/$key", bytes)
  def liveUploadCount: Int = uploads.size

  /** Read-side accounting for the ranged-GET reader tests: every GET
    * without a Range header counts as unbounded (a COG reader must
    * never issue one); ranged sizes let tests pin "KB-scale header,
    * tile-scale bodies". */
  private val unboundedGetCount = new AtomicInteger(0)
  private val rangedSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  def unboundedGets: Int = unboundedGetCount.get()
  def rangedGetSizes: Seq[Long] = {
    import scala.jdk.CollectionConverters._
    rangedSizes.iterator().asScala.toSeq
  }
  def resetReadAccounting(): Unit = { unboundedGetCount.set(0); rangedSizes.clear() }

  /** ListObjectsV2 knobs: shrink the page size to force continuation-
    * token pagination; the request counter proves the client actually
    * walked the pages. */
  @volatile var listMaxKeys: Int = 1000
  private val listRequests = new AtomicInteger(0)
  def listRequestCount: Int = listRequests.get()

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** GET /{bucket}?uploads — ListMultipartUploads: every in-flight
    * (initiated, never completed/aborted) upload under the bucket,
    * optionally prefix-filtered, ordered by (key, uploadId), paginated
    * via key-marker/upload-id-marker with pages of
    * min(max-uploads, listMaxKeys). */
  private def listMultipartUploads(ex: HttpExchange, rawBucket: String,
      q: Map[String, String]): Unit = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val bucket = rawBucket.stripSuffix("/")
    if (bucket.isEmpty || bucket.contains("/")) {
      s3Error(ex, 400, "InvalidRequest",
        s"ListMultipartUploads needs a bucket, got '$rawBucket'")
      return
    }
    listRequests.incrementAndGet()
    val prefix = q.get("prefix").map(dec).getOrElse("")
    val marker = (q.get("key-marker").map(dec), q.get("upload-id-marker").map(dec))
    val pageSize = math.max(1,
      math.min(listMaxKeys, q.get("max-uploads").map(_.toInt).getOrElse(1000)))
    val all = uploadKeys.toSeq
      .filter(_._2.startsWith(s"$bucket/"))
      .map { case (id, k) => (k.stripPrefix(s"$bucket/"), id) }
      .filter(_._1.startsWith(prefix))
      .sorted
    import scala.math.Ordering.Implicits._
    val after = marker match {
      case (Some(km), Some(im)) => all.dropWhile(e => (e: (String, String)) <= ((km, im)))
      case (Some(km), None) => all.dropWhile(_._1 <= km)
      case _ => all
    }
    val page = after.take(pageSize)
    val truncated = after.length > page.length
    val markers =
      if (truncated)
        s"<NextKeyMarker>${xmlEscape(page.last._1)}</NextKeyMarker>" +
          s"<NextUploadIdMarker>${xmlEscape(page.last._2)}</NextUploadIdMarker>"
      else ""
    val entries = page.map { case (k, id) =>
      s"<Upload><Key>${xmlEscape(k)}</Key><UploadId>${xmlEscape(id)}</UploadId></Upload>"
    }.mkString
    val xml = "<ListMultipartUploadsResult>" +
      s"<Bucket>${xmlEscape(bucket)}</Bucket><Prefix>${xmlEscape(prefix)}</Prefix>" +
      s"<MaxUploads>$pageSize</MaxUploads><IsTruncated>$truncated</IsTruncated>" +
      s"$markers$entries</ListMultipartUploadsResult>"
    respond(ex, 200, xml.getBytes("UTF-8"),
      Map("Content-Type" -> "application/xml"))
  }

  /** GET /{bucket}/{key}?uploadId=…[&part-number-marker=N] — ListParts:
    * the in-flight upload's stored parts in ascending partNumber order,
    * paginated via part-number-marker with pages of
    * min(max-parts, listMaxKeys); checksummed uploads carry each part's
    * service-computed ChecksumCRC32C like real S3. */
  private def listParts(ex: HttpExchange, id: String,
      q: Map[String, String]): Unit = {
    uploads.get(id) match {
      case None => s3Error(ex, 404, "NoSuchUpload", s"upload $id not found")
      case Some(parts) =>
        listRequests.incrementAndGet()
        val marker = q.get("part-number-marker").map(_.toInt).getOrElse(0)
        val pageSize = math.max(1,
          math.min(listMaxKeys, q.get("max-parts").map(_.toInt).getOrElse(1000)))
        val after = parts.toSeq.sortBy(_._1).dropWhile(_._1 <= marker)
        val page = after.take(pageSize)
        val truncated = after.length > page.length
        val withCk = uploadAlgorithms.get(id).contains("CRC32C")
        val entries = page.map { case (pn, (bytes, etag)) =>
          val ck = if (withCk)
            s"<ChecksumCRC32C>${S3Checksums.crc32cB64(bytes)}</ChecksumCRC32C>"
          else ""
          s"""<Part><PartNumber>$pn</PartNumber><ETag>"$etag"</ETag>""" +
            s"<Size>${bytes.length}</Size>$ck</Part>"
        }.mkString
        val markers =
          if (truncated) s"<NextPartNumberMarker>${page.last._1}</NextPartNumberMarker>"
          else ""
        val xml = "<ListPartsResult>" +
          s"<UploadId>${xmlEscape(id)}</UploadId>" +
          s"<MaxParts>$pageSize</MaxParts><IsTruncated>$truncated</IsTruncated>" +
          s"$markers$entries</ListPartsResult>"
        respond(ex, 200, xml.getBytes("UTF-8"),
          Map("Content-Type" -> "application/xml"))
    }
  }

  /** GET /{bucket}?list-type=2[&prefix=…][&continuation-token=…] — the
    * real service's pagination contract: keys in lexical order, pages
    * of min(max-keys, listMaxKeys), IsTruncated + NextContinuationToken
    * (opaque to the client; here the last key of the page). */
  private def listObjectsV2(ex: HttpExchange, rawBucket: String,
      q: Map[String, String]): Unit = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val bucket = rawBucket.stripSuffix("/")
    if (bucket.isEmpty || bucket.contains("/")) {
      s3Error(ex, 400, "InvalidRequest", s"listing needs a bucket, got '$rawBucket'")
      return
    }
    listRequests.incrementAndGet()
    val prefix = q.get("prefix").map(dec).getOrElse("")
    val token = q.get("continuation-token").map(dec)
    val delimiter = q.get("delimiter").map(dec).filter(_.nonEmpty)
    val pageSize = math.max(1,
      math.min(listMaxKeys, q.get("max-keys").map(_.toInt).getOrElse(1000)))
    val keys = objects.keys.toSeq
      .filter(_.startsWith(s"$bucket/")).map(_.stripPrefix(s"$bucket/"))
      .filter(_.startsWith(prefix)).sorted
    // delimiter rollup, the documented semantics: keys whose remainder
    // (after prefix) contains the delimiter collapse into ONE
    // CommonPrefixes entry (prefix..through first delimiter); rolled-up
    // groups count toward MaxKeys and paginate interleaved in lexical
    // order with plain keys. Left = plain key, Right = common prefix.
    val rolled: Seq[Either[String, String]] = delimiter match {
      case None => keys.map(Left(_))
      case Some(d) =>
        val out = ArrayBufferOfRolled()
        keys.foreach { k =>
          val rest = k.substring(prefix.length)
          val i = rest.indexOf(d)
          if (i < 0) out += Left(k)
          else {
            val cp = prefix + rest.substring(0, i + d.length)
            if (!out.lastOption.contains(Right(cp))) out += Right(cp)
          }
        }
        out.toSeq
    }
    def sortKey(e: Either[String, String]) = e.fold(identity, identity)
    val after = token match {
      case Some(t) => rolled.dropWhile(e => sortKey(e) <= t)
      case None => rolled
    }
    val page = after.take(pageSize)
    val truncated = after.length > page.length
    val contents = page.collect { case Left(k) =>
      val size = objects(s"$bucket/$k").length
      s"<Contents><Key>${xmlEscape(k)}</Key><Size>$size</Size>" +
        s"""<ETag>"${md5hex(objects(s"$bucket/$k"))}"</ETag></Contents>"""
    }.mkString
    val prefixes = page.collect { case Right(cp) =>
      s"<CommonPrefixes><Prefix>${xmlEscape(cp)}</Prefix></CommonPrefixes>"
    }.mkString
    val next =
      if (truncated)
        s"<NextContinuationToken>${xmlEscape(sortKey(page.last))}</NextContinuationToken>"
      else ""
    val xml = "<ListBucketResult>" +
      s"<Name>${xmlEscape(bucket)}</Name><Prefix>${xmlEscape(prefix)}</Prefix>" +
      delimiter.map(d => s"<Delimiter>${xmlEscape(d)}</Delimiter>").getOrElse("") +
      s"<KeyCount>${page.length}</KeyCount><MaxKeys>$pageSize</MaxKeys>" +
      s"<IsTruncated>$truncated</IsTruncated>$next$contents$prefixes</ListBucketResult>"
    respond(ex, 200, xml.getBytes("UTF-8"),
      Map("Content-Type" -> "application/xml"))
  }

  private def ArrayBufferOfRolled() =
    scala.collection.mutable.ArrayBuffer.empty[Either[String, String]]

  private def md5hex(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte],
      headers: Map[String, String] = Map.empty): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    // HttpServer: length 0 means chunked/streamed, -1 means empty body
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  private def s3Error(ex: HttpExchange, http: Int, code: String, msg: String): Unit =
    respond(ex, http,
      s"<Error><Code>$code</Code><Message>$msg</Message></Error>".getBytes("UTF-8"),
      Map("Content-Type" -> "application/xml"))

  private def queryParams(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split("&").map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> ""
      }
    }.toMap

  private def readAll(ex: HttpExchange): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val in = ex.getRequestBody
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** Decoded (name, value) pairs in request order — the form the
    * canonical query is recomputed from. */
  private def decodedQueryPairs(raw: String): Seq[(String, String)] =
    if (raw == null || raw.isEmpty) Nil
    else raw.split("&").toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2).padTo(2, "")
      (java.net.URLDecoder.decode(k, "UTF-8"),
        java.net.URLDecoder.decode(v, "UTF-8"))
    }

  private val amzFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)

  /** None = verified; Some(code, message) = refusal. */
  private def checkSignature(ex: HttpExchange, body: Array[Byte]): Option[(String, String)] = {
    val (creds, region) = sigCheck.get
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    val pairs = decodedQueryPairs(ex.getRequestURI.getRawQuery)
    val qm = pairs.toMap
    def first(h: String): Option[String] = Option(ex.getRequestHeaders.getFirst(h))
    if (qm.contains("X-Amz-Signature")) { // presigned / query auth
      for (p <- Seq("X-Amz-Algorithm", "X-Amz-Credential", "X-Amz-Date",
          "X-Amz-Expires", "X-Amz-SignedHeaders"))
        if (!qm.contains(p)) return Some(("AuthorizationQueryParametersError", s"missing $p"))
      if (qm("X-Amz-Algorithm") != SigV4.Algorithm)
        return Some(("AuthorizationQueryParametersError", "unsupported algorithm"))
      val ts = qm("X-Amz-Date")
      val expScope = s"${creds.accessKey}/${SigV4.scope(ts.take(8), region, "s3")}"
      if (qm("X-Amz-Credential") != expScope)
        return Some(("InvalidAccessKeyId", s"credential ${qm("X-Amz-Credential")}"))
      val minted = java.time.Instant.from(amzFmt.parse(ts))
      if (java.time.Instant.now().isAfter(minted.plusSeconds(qm("X-Amz-Expires").toLong)))
        return Some(("AccessDenied", "Request has expired"))
      val unsigned = pairs.filterNot(_._1 == "X-Amz-Signature")
      val (cr, _) = SigV4.canonicalRequest(method, path, unsigned,
        Seq("host" -> first("Host").getOrElse("")), SigV4.UnsignedPayload)
      if (SigV4.signature(creds, ts, region, "s3", cr) != qm("X-Amz-Signature"))
        Some(("SignatureDoesNotMatch", "presigned signature mismatch"))
      else { sigVerified.incrementAndGet(); None }
    } else first("Authorization") match { // header auth
      case None => Some(("AccessDenied", "request is neither signed nor presigned"))
      case Some(auth) =>
        val sh = "SignedHeaders=([^,]+),".r.findFirstMatchIn(auth)
          .map(_.group(1)).getOrElse(return Some(("AccessDenied", "malformed Authorization")))
        val ts = first("x-amz-date").getOrElse(
          return Some(("AccessDenied", "missing x-amz-date")))
        val contentSha = first("x-amz-content-sha256").getOrElse(
          return Some(("InvalidRequest", "missing x-amz-content-sha256"))) // S3 requires it
        if (contentSha != SigV4.UnsignedPayload && SigV4.sha256Hex(body) != contentSha)
          return Some(("XAmzContentSHA256Mismatch", "body hash != x-amz-content-sha256"))
        val signedPairs = sh.split(";").toSeq.map(h =>
          h -> first(h).getOrElse(return Some(("AccessDenied", s"signed header $h absent"))))
        val expect = SigV4.authorizationHeader(creds, region, "s3", method,
          path, pairs, signedPairs, contentSha, ts)
        if (expect != auth) Some(("SignatureDoesNotMatch", "authorization mismatch"))
        else { sigVerified.incrementAndGet(); None }
    }
  }

  private def handle(ex: HttpExchange): Unit = try {
    if (fail500.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      s3Error(ex, 500, "InternalError", "injected transient failure"); return
    }
    val body = readAll(ex)
    if (sigCheck.isDefined) checkSignature(ex, body) match {
      case Some((code, msg)) => s3Error(ex, 403, code, msg); return
      case None => ()
    }
    // virtual-hosted dialect, detected the way real S3 routes it: a
    // Host of `bucket.<this-endpoint>` addresses that bucket and the
    // path is just the key; the bare endpoint is path-style
    val ownAuthority = s"127.0.0.1:${server.getAddress.getPort}"
    val hostBucket = Option(ex.getRequestHeaders.getFirst("Host"))
      .filter(_.endsWith(s".$ownAuthority"))
      .map(h => h.dropRight(ownAuthority.length + 1))
    val rawPath = ex.getRequestURI.getPath.stripPrefix("/")
    val objKey = hostBucket.map(b => s"$b/$rawPath").getOrElse(rawPath)
    val q = queryParams(ex.getRequestURI.getRawQuery)
    val method = ex.getRequestMethod
    (method, q.contains("uploads"), q.get("uploadId"), q.get("partNumber")) match {
      case ("POST", true, _, _) => // initiate
        val id = s"mpu-${uploadSeq.incrementAndGet()}-${java.util.UUID.randomUUID().toString.take(8)}"
        uploads.put(id, TrieMap.empty)
        uploadKeys.put(id, objKey)
        Option(ex.getRequestHeaders.getFirst("x-amz-checksum-algorithm"))
          .foreach(a => uploadAlgorithms.put(id, a.toUpperCase(java.util.Locale.ROOT)))
        respond(ex, 200,
          ("<InitiateMultipartUploadResult><Bucket/><Key/>" +
            s"<UploadId>$id</UploadId></InitiateMultipartUploadResult>").getBytes("UTF-8"),
          Map("Content-Type" -> "application/xml"))
      case ("PUT", _, Some(id), Some(pn))
          if ex.getRequestHeaders.getFirst("x-amz-copy-source") != null =>
        // UploadPartCopy: the part body comes from an EXISTING object
        // (optionally a byte range of it) — server-side, zero egress
        uploads.get(id) match {
          case None => s3Error(ex, 404, "NoSuchUpload", s"upload $id not found")
          case Some(parts) =>
            val src = java.net.URLDecoder.decode(
              ex.getRequestHeaders.getFirst("x-amz-copy-source"), "UTF-8")
              .stripPrefix("/")
            objects.get(src) match {
              case None => s3Error(ex, 404, "NoSuchKey", s"copy source $src not found")
              case Some(srcBytes) =>
                val sliced = Option(
                    ex.getRequestHeaders.getFirst("x-amz-copy-source-range")) match {
                  case Some(r) if r.startsWith("bytes=") =>
                    val Array(a, z) = r.stripPrefix("bytes=").split("-", 2)
                    val (from, to) = (a.toLong, z.toLong)
                    if (from > to || to >= srcBytes.length) {
                      s3Error(ex, 400, "InvalidRange",
                        s"copy range $r of ${srcBytes.length}-byte source")
                      return
                    }
                    java.util.Arrays.copyOfRange(srcBytes, from.toInt, to.toInt + 1)
                  case Some(r) =>
                    s3Error(ex, 400, "InvalidArgument", s"bad copy range '$r'"); return
                  case None => srcBytes
                }
                val etag = md5hex(sliced)
                parts.put(pn.toInt, (sliced, etag))
                copyPartCount.incrementAndGet()
                // checksummed uploads get the service-computed part
                // checksum in the result, like real S3
                val ck =
                  if (uploadAlgorithms.get(id).contains("CRC32C"))
                    s"<ChecksumCRC32C>${S3Checksums.crc32cB64(sliced)}</ChecksumCRC32C>"
                  else ""
                respond(ex, 200,
                  (s"""<CopyPartResult><ETag>"$etag"</ETag>$ck</CopyPartResult>""")
                    .getBytes("UTF-8"),
                  Map("Content-Type" -> "application/xml"))
            }
        }
      case ("PUT", _, Some(_), Some(_))
          if throttledParts.getAndUpdate(n => math.max(0, n - 1)) > 0 =>
        throttledPartCount.incrementAndGet()
        s3Error(ex, 429, "SlowDown", "injected throttle")
      case ("PUT", _, Some(id), Some(pn)) => // upload part
        uploads.get(id) match {
          case None => s3Error(ex, 404, "NoSuchUpload", s"upload $id not found")
          case Some(parts) =>
            val bytes = body
            val declared = Option(ex.getRequestHeaders.getFirst("x-amz-checksum-crc32c"))
            if (declared.isDefined && !uploadAlgorithms.get(id).contains("CRC32C")) {
              s3Error(ex, 400, "InvalidRequest",
                "checksum type mismatch: upload was not created with " +
                  "x-amz-checksum-algorithm=CRC32C")
              return
            }
            val checksumHeaders = declared match {
              case Some(c) =>
                // verify against what the server RECEIVED — optionally
                // simulating a body corrupted in flight
                val received =
                  if (corruptParts.getAndUpdate(n => math.max(0, n - 1)) > 0)
                    bytes :+ 0x5a.toByte
                  else bytes
                if (S3Checksums.crc32cB64(received) != c) {
                  s3Error(ex, 400, "BadDigest",
                    s"The CRC32C you specified did not match what the server received")
                  return
                }
                checksumVerified.incrementAndGet()
                Map("x-amz-checksum-crc32c" -> c)
              case None => Map.empty[String, String]
            }
            val etag = md5hex(bytes)
            parts.put(pn.toInt, (bytes, etag))
            partPutLog.add((id, pn.toInt, bytes.length.toLong))
            respond(ex, 200, Array.emptyByteArray,
              checksumHeaders + ("ETag" -> s""""$etag""""))
        }
      case ("POST", _, Some(id), _) => // complete
        completeUpload(ex, objKey, id, new String(body, "UTF-8"),
          ifNoneMatch = ex.getRequestHeaders.getFirst("If-None-Match") != null)
      case ("DELETE", _, Some(id), _) => // abort
        if (uploads.remove(id).isDefined) {
          uploadKeys.remove(id)
          respond(ex, 204, Array.emptyByteArray)
        } else s3Error(ex, 404, "NoSuchUpload", s"upload $id not found")
      case ("GET", true, _, _) => // ListMultipartUploads
        listMultipartUploads(ex, hostBucket.getOrElse(objKey), q)
      case ("GET", _, Some(id), _) => // ListParts
        listParts(ex, id, q)
      case ("PUT", false, None, None) => // plain PutObject (presigned drop-box)
        if (ex.getRequestHeaders.getFirst("If-None-Match") != null) {
          // conditional create: atomic putIfAbsent decides the race —
          // EXACTLY one concurrent writer wins, like real S3 (2024 API)
          if (objects.putIfAbsent(objKey, body).isDefined) {
            s3Error(ex, 412, "PreconditionFailed",
              s"At least one of the pre-conditions you specified did not hold: $objKey exists")
            return
          }
        } else objects.put(objKey, body)
        respond(ex, 200, Array.emptyByteArray,
          Map("ETag" -> s""""${md5hex(body)}""""))
      case ("HEAD", _, _, _) =>
        objects.get(objKey) match {
          case Some(b) =>
            ex.getResponseHeaders.set("Content-Length", b.length.toString)
            ex.sendResponseHeaders(200, -1); ex.close()
          case None => respond(ex, 404, Array.emptyByteArray)
        }
      case ("GET", _, _, _) if q.contains("list-type") =>
        if (q("list-type") != "2")
          s3Error(ex, 400, "InvalidArgument", s"list-type ${q("list-type")}")
        else listObjectsV2(ex, hostBucket.getOrElse(objKey), q)
      case ("GET", _, _, _) =>
        objects.get(objKey) match {
          case Some(b) =>
            val range = Option(ex.getRequestHeaders.getFirst("Range"))
            range match {
              case Some(r) if r.startsWith("bytes=") =>
                val Array(a, z) = r.stripPrefix("bytes=").split("-", 2)
                val from = a.toLong
                val to = math.min(if (z.isEmpty) b.length.toLong - 1 else z.toLong,
                  b.length.toLong - 1)
                if (from > to || from >= b.length) {
                  s3Error(ex, 416, "InvalidRange", s"$r of ${b.length}")
                } else {
                  rangedSizes.add(to - from + 1)
                  respond(ex, 206,
                    java.util.Arrays.copyOfRange(b, from.toInt, to.toInt + 1),
                    Map("Content-Range" -> s"bytes $from-$to/${b.length}"))
                }
              case _ =>
                unboundedGetCount.incrementAndGet()
                respond(ex, 200, b)
            }
          case None => s3Error(ex, 404, "NoSuchKey", s"no object $objKey")
        }
      case _ => s3Error(ex, 400, "InvalidRequest", s"$method ${ex.getRequestURI}")
    }
  } catch {
    case e: Exception => s3Error(ex, 500, "InternalError", e.toString.take(200))
  }

  private def completeUpload(ex: HttpExchange, objKey: String, id: String,
      xml: String, ifNoneMatch: Boolean = false): Unit = {
    uploads.get(id) match {
      case None => s3Error(ex, 404, "NoSuchUpload", s"upload $id not found"); return
      case Some(parts) =>
        val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
          .newDocumentBuilder()
          .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
        val partNodes = doc.getElementsByTagName("Part")
        val listed = (0 until partNodes.getLength).map { i =>
          val el = partNodes.item(i).asInstanceOf[org.w3c.dom.Element]
          val pn = el.getElementsByTagName("PartNumber").item(0).getTextContent.trim.toInt
          val etag = el.getElementsByTagName("ETag").item(0).getTextContent.trim
            .stripPrefix("\"").stripSuffix("\"")
          val ck = el.getElementsByTagName("ChecksumCRC32C")
          (pn, etag, if (ck.getLength == 0) None else Some(ck.item(0).getTextContent.trim))
        }
        if (listed.isEmpty) {
          s3Error(ex, 400, "InvalidRequest", "empty part list"); return
        }
        if (listed.map(_._1) != listed.map(_._1).sorted ||
            listed.map(_._1).distinct.length != listed.length) {
          s3Error(ex, 400, "InvalidPartOrder",
            "part numbers must be listed in ascending order"); return
        }
        for ((pn, etag, ck) <- listed) {
          parts.get(pn) match {
            case None =>
              s3Error(ex, 400, "InvalidPart", s"part $pn was never uploaded"); return
            case Some((_, stored)) if stored != etag =>
              s3Error(ex, 400, "InvalidPart", s"part $pn etag mismatch"); return
            case Some((storedBytes, _))
                if ck.exists(_ != S3Checksums.crc32cB64(storedBytes)) =>
              s3Error(ex, 400, "InvalidPart", s"part $pn checksum mismatch"); return
            case _ => ()
          }
        }
        for ((pn, _, _) <- listed.dropRight(1)) {
          if (parts(pn)._1.length.toLong < minPartSize) {
            s3Error(ex, 400, "EntityTooSmall",
              s"part $pn is ${parts(pn)._1.length} bytes, minimum $minPartSize"); return
          }
        }
        if (errorBodyCompletes.getAndUpdate(n => math.max(0, n - 1)) > 0) {
          // the real-S3 trap: HTTP 200 whose body is an error document
          respond(ex, 200,
            (s"<Error><Code>$errorBodyCode</Code>" +
              "<Message>injected 200-with-error</Message></Error>")
              .getBytes("UTF-8"), Map("Content-Type" -> "application/xml"))
          return
        }
        val assembled = new java.io.ByteArrayOutputStream()
        SortedMap.from(listed.map(_._1).map(pn => pn -> parts(pn)._1))
          .values.foreach(assembled.write)
        if (ifNoneMatch) {
          // conditional complete: atomic putIfAbsent decides the race;
          // on refusal the MPU stays alive (abortable), like real S3
          if (objects.putIfAbsent(objKey, assembled.toByteArray).isDefined) {
            s3Error(ex, 412, "PreconditionFailed",
              s"At least one of the pre-conditions you specified did not hold: $objKey exists")
            return
          }
        } else objects.put(objKey, assembled.toByteArray)
        uploads.remove(id)
        uploadKeys.remove(id)
        // checksummed completes answer with the composite
        // checksum-of-checksums, like the real service
        val compositeXml =
          if (listed.forall(_._3.isDefined)) {
            val answer =
              if (wrongComposite.getAndUpdate(n => math.max(0, n - 1)) > 0)
                s"AAAAAA==-${listed.length}" // deliberately bogus
              else S3Checksums.composite(listed.map(_._3.get))
            s"<ChecksumCRC32C>$answer</ChecksumCRC32C>"
          } else ""
        respond(ex, 200,
          ("<CompleteMultipartUploadResult><Location/><Bucket/><Key/>" +
            s"""<ETag>"${md5hex(assembled.toByteArray)}-${listed.length}"</ETag>""" +
            compositeXml + "</CompleteMultipartUploadResult>").getBytes("UTF-8"),
          Map("Content-Type" -> "application/xml"))
    }
  }
}
