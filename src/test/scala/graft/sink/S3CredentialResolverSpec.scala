package graft.sink

import org.scalatest.funsuite.AnyFunSuite

/** Precedence and failure modes of the single credential/region
  * resolution point: explicit → fs.<scheme>.sigv4.* conf → anonymous,
  * with a loud failure on half-configured key pairs — no component
  * may silently downgrade to anonymous because one key was typoed. */
class S3CredentialResolverSpec extends AnyFunSuite {

  def conf(m: (String, String)*): String => Option[String] = m.toMap.get

  test("anonymous when nothing is configured; default region") {
    val r = S3CredentialResolver.resolve(conf(), "http")
    assert(r.credentials.isEmpty)
    assert(r.region == S3CredentialResolver.DefaultRegion)
    assert(r.signer().isEmpty)
  }

  test("conf keys resolve credentials, session token, and region") {
    val r = S3CredentialResolver.resolve(conf(
      "fs.https.sigv4.access.key" -> "AK",
      "fs.https.sigv4.secret.key" -> "SK",
      "fs.https.sigv4.session.token" -> "TOK",
      "fs.https.sigv4.region" -> "eu-west-1"), "https")
    assert(r.credentials.contains(SigV4.Credentials("AK", "SK", Some("TOK"))))
    assert(r.region == "eu-west-1")
    assert(r.signer().isDefined)
  }

  test("scheme scopes the keys: http keys are invisible to https") {
    val r = S3CredentialResolver.resolve(conf(
      "fs.http.sigv4.access.key" -> "AK",
      "fs.http.sigv4.secret.key" -> "SK"), "https")
    assert(r.credentials.isEmpty)
  }

  test("explicit values shadow configured ones") {
    val explicit = SigV4.Credentials("EXPLICIT", "S")
    val r = S3CredentialResolver.resolve(conf(
      "fs.http.sigv4.access.key" -> "CONF",
      "fs.http.sigv4.secret.key" -> "SK",
      "fs.http.sigv4.region" -> "conf-region"), "http",
      explicitCreds = Some(explicit), explicitRegion = Some("ap-south-1"))
    assert(r.credentials.contains(explicit))
    assert(r.region == "ap-south-1")
  }

  test("half-configured key pair fails loudly, never anonymous") {
    intercept[IllegalArgumentException] {
      S3CredentialResolver.resolve(conf("fs.http.sigv4.access.key" -> "AK"), "http")
    }
    intercept[IllegalArgumentException] {
      S3CredentialResolver.resolve(conf("fs.http.sigv4.secret.key" -> "SK"), "http")
    }
  }

  test("fromConf sink signs like the read side: conf-resolved MPU lands") {
    val creds = SigV4.Credentials("AKIDCONF", "conf-secret")
    val srv = new MockS3Server
    srv.requireSigV4(creds, "us-west-2")
    try {
      // the cog write's resolution: credentials and region from the
      // Hadoop conf the write sees, into the sink's constructor
      val hconf = new org.apache.hadoop.conf.Configuration(false)
      hconf.set("fs.http.sigv4.access.key", creds.accessKey)
      hconf.set("fs.http.sigv4.secret.key", creds.secretKey)
      hconf.set("fs.http.sigv4.region", "us-west-2")
      val r = S3CredentialResolver.resolveHadoop(hconf, "http")
      val sink = new S3MultipartSink(srv.endpoint, "b", "conf/made.bin",
        credentials = r.credentials, region = r.region)
      sink.start()
      val e = sink.uploadPart(1, Array[Byte](4, 2))
      sink.complete(Seq(PartReceipt(1, 0L, 2L, e)))
      assert(srv.storedObject("b", "conf/made.bin").get.toSeq == Seq[Byte](4, 2))
      assert(srv.verifiedRequestCount >= 3)
    } finally srv.stop()
  }
}
