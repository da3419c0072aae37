package graft.sink

/** The single resolution point for S3 credentials and signing region —
  * every component that may sign (the ranged-GET FileSystem, the
  * multipart sink, presigned-URL minting) resolves through here
  * instead of parsing its own keys.
  *
  * Precedence, highest first:
  *
  *   1. explicit values handed to a constructor/factory;
  *   2. `fs.<scheme>.sigv4.{access.key,secret.key,session.token,region}`
  *      from the supplied configuration getter. Per-call options are
  *      merged OVER the session Hadoop configuration upstream (options
  *      win — [[graft.sources.SessionConf]] builds that conf for every
  *      read and write), so they already shadow `spark.hadoop.*`
  *      session keys by the time they reach this resolver;
  *   3. anonymous: no credentials, requests go unsigned (sigv4-exempt
  *      endpoints), region falls back to [[DefaultRegion]].
  *
  * Access and secret key must be set together — a half-configured pair
  * fails loudly rather than silently downgrading to anonymous.
  */
object S3CredentialResolver {

  val DefaultRegion = "us-east-1"

  final case class Resolved(credentials: Option[SigV4.Credentials],
      region: String) {
    def signer(service: String = "s3"): Option[SigV4.RequestSigner] =
      credentials.map(new SigV4.RequestSigner(_, region, service))
  }

  def resolve(get: String => Option[String], scheme: String = "http",
      explicitCreds: Option[SigV4.Credentials] = None,
      explicitRegion: Option[String] = None): Resolved = {
    val pfx = s"fs.$scheme.sigv4"
    val access = get(s"$pfx.access.key")
    val secret = get(s"$pfx.secret.key")
    require(access.isDefined == secret.isDefined,
      s"$pfx.access.key and $pfx.secret.key must be set together")
    val fromConf = access.map(ak =>
      SigV4.Credentials(ak, secret.get, get(s"$pfx.session.token")))
    Resolved(explicitCreds.orElse(fromConf),
      explicitRegion.orElse(get(s"$pfx.region")).getOrElse(DefaultRegion))
  }

  /** Hadoop-Configuration adapter (null-returning getter → Option). */
  def resolveHadoop(conf: org.apache.hadoop.conf.Configuration,
      scheme: String): Resolved =
    resolve(k => Option(conf.get(k)), scheme)
}
