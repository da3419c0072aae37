package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  FileSystem, Path, PositionedReadable, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Read-only Hadoop FileSystem over HTTP ranged GETs — the seam that
  * lets every existing read path (CogReader.readMeta/read/readStrips,
  * the DSv2 single-file and mosaic planners) consume a COG straight
  * from an object-store or static-file endpoint with NO full-file
  * download, exactly the access pattern the reference assumes for
  * COG-on-S3 (ccog/README.md:9 "cloud optimised geotiff" +
  * aws_tools.py's S3 store): KB-scale header probe, then one bounded
  * range request per tile/strip.
  *
  * This is the same plug-point s3a uses: register with
  * `fs.http.impl = graft.sources.HttpRangeFileSystem` (and/or
  * `fs.https.impl` → [[HttpsRangeFileSystem]]) in the session Hadoop
  * configuration or as a datasource option, then
  * `spark.read.format("cog").load("http://host/bucket/key")` just
  * works. Every request is bounded: `open` streams through positioned
  * range reads and plain `read` advances a cursor with ranged GETs —
  * the class never issues an unbounded GET, so reading 3 tiles of a
  * 100 GB object transfers 3 tile-ranges plus the header probe.
  *
  * Write/rename/delete/list are unsupported (HTTP has no portable
  * contract for them); egress goes through the multipart sink instead.
  *
  * Authenticated endpoints: setting `fs.http.sigv4.access.key` /
  * `.secret.key` (plus optional `.region`, `.session.token`) in the
  * Hadoop conf — session-wide via `spark.hadoop.*` or per-read as
  * datasource options — SigV4-signs every HEAD and ranged GET, so the
  * same reader works against real S3-compatible object stores, not
  * just anonymous ones. Pinned end-to-end by SignedHttpCogReadSpec
  * against the mock's server-side signature verification.
  */
class HttpRangeFileSystem extends FileSystem {

  private var fsUri: URI = _
  private var signer: Option[graft.sink.SigV4.RequestSigner] = None
  private var retry: RangeRetryPolicy = RangeRetryPolicy()
  // virtual-hosted endpoints: the bucket rides the AUTHORITY
  // (`bucket.host/key`), so paths are keys and listings address the
  // bucket implied by the Host — AWS's default dialect
  private var virtualHostMode: Boolean = false
  // present (and sign) a Host different from the dialed authority —
  // fixed-address gateways fronting virtual-hosted stores, and the
  // only way a test can speak bucket-in-host to a loopback mock.
  // Needs -Djdk.httpclient.allowRestrictedHeaders=host (build.sbt).
  private var hostOverride: Option[String] = None
  // directory-style exploration: listStatus pages ONE level via
  // delimiter/CommonPrefixes (subprefixes surface as directories)
  // instead of the default recursive every-key-under-the-prefix walk
  // the mosaic planner wants
  private var delimitedMode: Boolean = false

  override def getScheme: String = "http"

  @transient private lazy val http: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(s"$getScheme://${name.getAuthority}")
    // authenticated S3-compatible endpoints: when credentials are
    // configured (s3a-style conf keys, settable per-session via
    // spark.hadoop.* or per-read as datasource options), every HEAD
    // and ranged GET carries a SigV4 signature — reads work against
    // real S3, not just anonymous endpoints. Key names and precedence
    // live in ONE place: graft.sink.S3CredentialResolver.
    signer = graft.sink.S3CredentialResolver
      .resolveHadoop(conf, getScheme).signer()
    virtualHostMode = conf.getBoolean(s"fs.$getScheme.s3.virtual.host", false)
    delimitedMode = conf.getBoolean(s"fs.$getScheme.list.delimited", false)
    hostOverride = Option(conf.get(s"fs.$getScheme.host.override"))
    hostOverride.foreach(_ => graft.sink.SigV4.requireHostHeaderAllowed())
    // at fleet scale the object store WILL throttle (503 SlowDown) and
    // connections WILL reset; a bounded retry per range request keeps
    // one transient blip from killing a whole Spark task. 4xx never
    // retries (it would mask real errors, incl. signature refusals).
    retry = RangeRetryPolicy(
      attempts = conf.getInt(s"fs.$getScheme.retry.attempts", 4),
      backoffMs = conf.getLong(s"fs.$getScheme.retry.backoff.ms", 100L))
  }

  override def getUri: URI = fsUri

  private def targetUri(f: Path): URI = {
    // paths are WIRE-FORMAT (percent-encoded) and pass through
    // verbatim, exactly like a URL in a browser: presigned URLs from
    // SigV4.presignUrl arrive already canonically encoded (re-encoding
    // would '%'→'%25' their path and break the signature), and
    // [[listPrefix]] encodes listed keys at the source — so keys with
    // spaces, '#', '%', even '?' work end-to-end off a listing. A
    // caller constructing an object URL BY HAND must encode it the
    // same way (SigV4.uriEncode), as with any URL. Hadoop Path
    // round-trips the string: its constructor quotes the '%'s and
    // getPath un-quotes them, handing back the single-encoded form.
    val p = f.toUri.getPath
    try URI.create(s"$getScheme://${fsUri.getAuthority}$p")
    catch {
      case e: IllegalArgumentException =>
        // a bare/truncated '%' means the caller handed us a RAW path;
        // say so instead of surfacing URI.create's bare complaint
        throw new IllegalArgumentException(
          s"malformed percent-escape in path '$p' — paths on this " +
            "filesystem are wire-format (percent-encoded per " +
            "SigV4.uriEncode); encode literal '%' as '%25'", e)
    }
  }

  private def contentLength(f: Path): Long = {
    def mkHead() = {
      val hb = HttpRequest.newBuilder(targetUri(f))
        .method("HEAD", HttpRequest.BodyPublishers.noBody())
      hostOverride.foreach(h => hb.header("Host", h))
      signer.foreach(_.sign(hb, "HEAD", targetUri(f),
        hostOverride = hostOverride))
      hb.build()
    }
    val r = retry.send(http, s"HEAD ${targetUri(f)}", () => mkHead(),
      HttpResponse.BodyHandlers.discarding())
    if (r.statusCode() == 200) {
      val len = r.headers().firstValueAsLong("Content-Length")
      if (len.isPresent) return len.getAsLong
    }
    if (r.statusCode() == 404)
      throw new java.io.FileNotFoundException(targetUri(f).toString)
    // endpoints that refuse HEAD: a 1-byte ranged GET's Content-Range
    // carries the total ("bytes 0-0/12345")
    def mkProbe() = {
      val pb = HttpRequest.newBuilder(targetUri(f)).header("Range", "bytes=0-0")
      hostOverride.foreach(h => pb.header("Host", h))
      signer.foreach(_.sign(pb, "GET", targetUri(f),
        extraSigned = Seq("range" -> "bytes=0-0"), hostOverride = hostOverride))
      pb.GET().build()
    }
    val pr = retry.send(http, s"probe GET ${targetUri(f)}", () => mkProbe(),
      HttpResponse.BodyHandlers.discarding())
    if (pr.statusCode() == 404)
      throw new java.io.FileNotFoundException(targetUri(f).toString)
    val cr = pr.headers().firstValue("Content-Range").orElse("")
    require(pr.statusCode() == 206 && cr.contains("/"),
      s"cannot determine length of ${targetUri(f)}: HEAD ${r.statusCode()}, " +
        s"ranged GET ${pr.statusCode()} Content-Range '$cr'")
    cr.substring(cr.indexOf('/') + 1).trim.toLong
  }

  /** S3 prefix listing for a path that is not an object: the first
    * path segment is the bucket, the rest (slash-terminated) the key
    * prefix — `GET /{bucket}?list-type=2` via [[S3Listing]]. None when
    * the endpoint has no listing (static hosts) or the prefix is
    * empty, so plain-HTTP behavior is unchanged. This is the listing
    * half the reference inherits from fsspec's mapper
    * (ccog/aws_tools.py:31-43): `load("http://host/bucket/prefix/")`
    * plans a mosaic from the listed objects. */
  /** `probeOnly` asks the endpoint for AT MOST ONE key (max-keys=1,
    * single page) — enough to answer "is this prefix non-empty?"
    * without walking a 10k-key listing, which is all exists/
    * getFileStatus need. */
  /** Percent-decode a wire-format path component. '+' stays literal
    * (URL *path* semantics — URLDecoder's form-encoding '+'→space rule
    * would corrupt keys containing a real plus). */
  private def percentDecode(s: String): String = {
    if (!s.contains('%')) return s
    def isHex(c: Char) =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        // paths on this filesystem are wire-format (every '%' starts a
        // valid escape — see [[targetUri]] / SigV4.uriEncode); a bare or
        // malformed '%' means the caller handed us a raw, un-encoded path
        if (i + 2 >= s.length || !isHex(s.charAt(i + 1)) || !isHex(s.charAt(i + 2)))
          throw new IllegalArgumentException(
            s"malformed percent-escape at offset $i of path '$s' — paths " +
              "must be wire-format (percent-encoded per SigV4.uriEncode); " +
              "encode literal '%' as '%25'")
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
      } else {
        out.write(c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        i += 1
      }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def listPrefix(f: Path, probeOnly: Boolean = false,
      delimited: Boolean = false): Option[Seq[FileStatus]] = {
    // paths arrive WIRE-FORMAT (see [[targetUri]]); the ListObjectsV2
    // prefix parameter wants the DECODED key prefix — S3Listing
    // re-encodes it canonically into the query string. Without this
    // decode, a prefix like `my%20tiles/` would be double-encoded and
    // silently match nothing.
    val p = percentDecode(f.toUri.getPath).stripPrefix("/")
    if (p.isEmpty && !virtualHostMode) return None
    // path-style: first segment is the bucket; virtual-hosted: the
    // bucket rides the authority, the whole path is the key prefix
    val (bucket, prefix) =
      if (virtualHostMode) ("", if (p.nonEmpty) s"$p/" else "")
      else {
        val seg = p.split("/", 2)
        (seg(0), if (seg.length > 1 && seg(1).nonEmpty) s"${seg(1)}/" else "")
      }
    val keyBase = if (bucket.isEmpty) "" else s"/$bucket"
    def wirePath(key: String) =
      new Path(s"$getScheme://${fsUri.getAuthority}$keyBase/" +
        graft.sink.SigV4.uriEncode(key, encodeSlash = false))
    if (delimited) {
      // one-level exploration: delimiter rollup means sibling subtrees
      // cost ONE CommonPrefixes row each, never their leaf pages
      return S3Listing.listDelimited(http,
          s"$getScheme://${fsUri.getAuthority}", bucket, prefix,
          signer, retry, hostOverride = hostOverride)
        .map { l =>
          val dirs = l.prefixes.map { cp =>
            new FileStatus(0L, true, 1, 64L << 20, 0L,
              wirePath(cp.stripSuffix("/")))
          }
          val files = l.entries
            .filterNot(e => e.size == 0L && e.key.endsWith("/"))
            .map { e =>
              require(!e.key.contains("//") && !e.key.startsWith("/") &&
                  !e.key.endsWith("/"),
                s"listed key '${e.key}' has empty path segments, which " +
                  "Hadoop Path cannot represent — rename the object or " +
                  "load it via a presigned URL")
              new FileStatus(e.size, false, 1, 64L << 20, 0L, wirePath(e.key))
            }
          dirs ++ files
        }
    }
    S3Listing.list(http, s"$getScheme://${fsUri.getAuthority}", bucket, prefix,
        signer, retry, hostOverride = hostOverride, probeOnly = probeOnly)
      .map(_.filterNot(e => e.size == 0L && e.key.endsWith("/")).map { e =>
        // zero-byte keys with a trailing '/' are conventional directory
        // markers (the AWS console creates them) — skipped above, they
        // name no data. A NON-empty key ending in '/' falls into the
        // unrepresentable class below: Hadoop Path normalization strips
        // the trailing slash, silently addressing a different key.
        // sizes come from the listing itself — zero per-object HEADs
        // to stat a 10k-member mosaic. Keys are server-controlled and
        // may hold any legal S3 character (space, '#', '%', '?'):
        // encode them HERE so every downstream path is wire-format —
        // [[targetUri]] then passes it through verbatim, the same
        // convention presigned URLs arrive in. The ONE unrepresentable
        // class: empty path segments ('//', or a leading '/') — Hadoop
        // Path normalization collapses them, so the request would
        // silently address a DIFFERENT key; refuse loudly instead
        // (encoding the slashes would break SigV4 parity on real S3,
        // which canonicalizes the path as received).
        require(!e.key.contains("//") && !e.key.startsWith("/") &&
            !e.key.endsWith("/"),
          s"listed key '${e.key}' has empty path segments, which Hadoop " +
            "Path cannot represent — rename the object or load it via a " +
            "presigned URL")
        new FileStatus(e.size, false, 1, 64L << 20, 0L,
          new Path(s"$getScheme://${fsUri.getAuthority}$keyBase/" +
            graft.sink.SigV4.uriEncode(e.key, encodeSlash = false)))
      })
  }

  override def getFileStatus(f: Path): FileStatus =
    try new FileStatus(contentLength(f), false, 1, 64L << 20, 0L,
      f.makeQualified(fsUri, getWorkingDirectory))
    catch {
      case e: java.io.FileNotFoundException =>
        // not an object: an S3 endpoint may still know it as a prefix
        listPrefix(f, probeOnly = true) match {
          case Some(entries) if entries.nonEmpty =>
            new FileStatus(0L, true, 1, 64L << 20, 0L,
              f.makeQualified(fsUri, getWorkingDirectory))
          case _ => throw e
        }
    }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val len = contentLength(f)
    new FSDataInputStream(
      new HttpRangeInputStream(targetUri(f), len, http, signer, retry,
        hostOverride))
  }

  override def exists(f: Path): Boolean =
    try { getFileStatus(f); true }
    catch { case _: java.io.FileNotFoundException => false }

  private def ro(op: String) =
    throw new UnsupportedOperationException(
      s"$op: ${getScheme}:// is a read-only ranged-GET filesystem; " +
        "write through the multipart sink instead")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = ro("create")
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = ro("append")
  override def rename(src: Path, dst: Path): Boolean = ro("rename")
  override def delete(f: Path, recursive: Boolean): Boolean = ro("delete")
  override def listStatus(f: Path): Array[FileStatus] =
    // a single object is its own listing; a non-object path lists as an
    // S3 prefix when the endpoint supports ListObjectsV2 (recursive —
    // S3 "directories" are illusory, and the mosaic planner wants every
    // object under the prefix)
    try Array(new FileStatus(contentLength(f), false, 1, 64L << 20, 0L,
      f.makeQualified(fsUri, getWorkingDirectory)))
    catch {
      case e: java.io.FileNotFoundException =>
        listPrefix(f, delimited = delimitedMode) match {
          case Some(entries) if entries.nonEmpty => entries.toArray
          case _ => throw e
        }
    }
  override def setWorkingDirectory(d: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path("/")
  override def mkdirs(f: Path, permission: FsPermission): Boolean = ro("mkdirs")
}

/** fs.https.impl registration point — same ranged-GET filesystem, TLS. */
class HttpsRangeFileSystem extends HttpRangeFileSystem {
  override def getScheme: String = "https"
}

/** The one bounded HTTP retry of graft's object-store I/O (ranged
  * reads, listings, the MPU janitor and the multipart sink):
  * IOExceptions and throttle-class statuses (5xx, 429) back off
  * exponentially and retry with a FRESH request per attempt — rebuilt
  * through the `mk` thunk so SigV4 signatures are re-minted rather
  * than replayed (a replayed x-amz-date can drift past SigV4's
  * 15-minute skew window under long backoffs). `alsoRetry` adds a
  * caller's own transient answers (the sink's HTTP 200 carrying an
  * InternalError document). Everything else (2xx, 3xx, 4xx incl. 403
  * signature refusals and 404) returns to the caller immediately:
  * retrying those masks real errors. */
private[graft] final case class RangeRetryPolicy(attempts: Int = 4,
    backoffMs: Long = 100L) {
  require(attempts >= 1, s"retry attempts must be >= 1: $attempts")

  /** The retried statuses. */
  def retryable(status: Int): Boolean = status >= 500 || status == 429

  def send[T](http: HttpClient, what: String, mk: () => HttpRequest,
      handler: HttpResponse.BodyHandler[T],
      alsoRetry: HttpResponse[T] => Boolean = (_: HttpResponse[T]) => false)
      : HttpResponse[T] = {
    var attempt = 0
    var lastEx: java.io.IOException = null
    var lastR: HttpResponse[T] = null.asInstanceOf[HttpResponse[T]]
    while (attempt < attempts) {
      if (attempt > 0) Thread.sleep(backoffMs << (attempt - 1))
      attempt += 1
      try {
        val r = http.send(mk(), handler)
        if (!retryable(r.statusCode()) && !alsoRetry(r)) return r
        lastR = r; lastEx = null
      } catch { case e: java.io.IOException => lastEx = e }
    }
    if (lastEx != null) throw new java.io.IOException(
      s"$what failed after $attempts attempts", lastEx)
    lastR // exhausted on a retried answer: caller raises with context
  }
}

/** Seekable/PositionedReadable stream where every read is one bounded
  * HTTP range request; no buffering beyond the caller's own (COG reads
  * are whole-tile `readFully(pos, …)` calls, so per-call requests map
  * 1:1 onto tile ranges). */
private[sources] class HttpRangeInputStream(uri: URI, len: Long, http: HttpClient,
    signer: Option[graft.sink.SigV4.RequestSigner] = None,
    retry: RangeRetryPolicy = RangeRetryPolicy(),
    hostOverride: Option[String] = None)
    extends java.io.InputStream with Seekable with PositionedReadable {

  private var pos = 0L

  private def rangedGet(position: Long, length: Int): Array[Byte] = {
    if (position >= len || length == 0) return Array.emptyByteArray
    val last = math.min(position + length.toLong, len) - 1
    val range = s"bytes=$position-$last"
    def mk() = {
      val rb = HttpRequest.newBuilder(uri).header("Range", range)
      hostOverride.foreach(h => rb.header("Host", h))
      signer.foreach(_.sign(rb, "GET", uri, extraSigned = Seq("range" -> range),
        hostOverride = hostOverride))
      rb.GET().build()
    }
    val r = retry.send(http, s"range GET $uri [$position-$last]", () => mk(),
      HttpResponse.BodyHandlers.ofByteArray())
    require(r.statusCode() == 206 || r.statusCode() == 200,
      s"range GET $uri [$position-$last] failed: HTTP ${r.statusCode()}")
    val body = r.body()
    // a 200 answer ignored the Range header — slice locally rather than
    // report wrong bytes (still bounded: only servers that sent the
    // whole body land here, and the mock/S3 never do)
    if (r.statusCode() == 200 && body.length.toLong > last - position + 1)
      java.util.Arrays.copyOfRange(body, position.toInt, (last + 1).toInt)
    else body
  }

  override def read(): Int = {
    val b = new Array[Byte](1)
    if (read(b, 0, 1) == -1) -1 else b(0) & 0xFF
  }

  override def read(b: Array[Byte], off: Int, length: Int): Int = {
    if (length == 0) return 0 // InputStream contract: 0-length reads 0
    if (pos >= len) return -1
    val got = rangedGet(pos, length)
    System.arraycopy(got, 0, b, off, got.length)
    pos += got.length
    if (got.isEmpty) -1 else got.length
  }

  override def read(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Int = {
    if (length == 0) return 0
    if (position >= len) return -1
    val got = rangedGet(position, length)
    System.arraycopy(got, 0, buffer, offset, got.length)
    if (got.isEmpty) -1 else got.length
  }

  override def readFully(position: Long, buffer: Array[Byte], offset: Int,
      length: Int): Unit = {
    var done = 0
    while (done < length) {
      val n = read(position + done, buffer, offset + done, length - done)
      if (n < 0) throw new java.io.EOFException(
        s"EOF at ${position + done} of $len reading $length bytes from $uri")
      done += n
    }
  }

  override def readFully(position: Long, buffer: Array[Byte]): Unit =
    readFully(position, buffer, 0, buffer.length)

  override def seek(p: Long): Unit = {
    if (p < 0 || p > len) throw new java.io.EOFException(s"seek $p outside [0,$len]")
    pos = p
  }
  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false
}
