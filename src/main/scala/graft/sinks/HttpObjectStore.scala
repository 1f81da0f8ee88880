package graft.sinks

/** S3-REST-style [[ObjectStore]] over plain HTTP: `PUT <endpoint>/<key>`
  * with the `Content-Type` header and the canned ACL as `x-amz-acl` —
  * the wire shape of the reference's per-object upload
  * (/root/reference/reference/EtlToS3.cs:87-94 sets exactly key, body,
  * content type, and canned ACL per PUT). Any non-2xx status THROWS, so
  * [[ObjectSink]]'s per-record retry/swallow-and-count policy engages on
  * real protocol errors (429/503) exactly as it does on client
  * exceptions.
  *
  * Scope: S3-COMPATIBLE endpoints where request signing is ambient or
  * absent (an in-cluster gateway/sidecar, a MinIO dev deployment with
  * anonymous write, or the test stub) — talking to real AWS requires
  * SigV4, which lives in the hadoop-aws connector ([[HadoopFsStore]] is
  * the swap-in there). What THIS store certifies, credential-free, is
  * the full PUT contract over the actual protocol: key→URL mapping,
  * body bytes, content type, ACL header, idempotent re-PUT, and error
  * statuses driving the retry path.
  *
  * One `HttpURLConnection` per PUT; the store object is serialized to
  * executors and holds no live resources. The JDK's keep-alive cache
  * underneath keeps only `http.maxConnections` (default 5) idle sockets
  * per destination, far fewer than the sink's PUT window keeps busy, so
  * most PUTs beyond the fifth concurrent one open a new connection:
  * against a 20 ms store on a 4-vCPU VM, about 0.8 connects per PUT, where
  * one PUT at a time per task made 0.002. A connection pool sized to the
  * window is an open follow-up.
  */
final class HttpObjectStore(endpoint: String, timeoutMs: Int = 30000) extends ObjectStore {

  // Parsed once; the endpoint itself must already be a valid URL.
  private val base = java.net.URI.create(endpoint.stripSuffix("/"))

  /** Object key → request URL. The key is RAW (an object name, not a
    * pre-encoded path), so it goes through the multi-arg URI constructor,
    * which percent-encodes reserved characters per path segment: a key
    * containing '#' or '?' would otherwise be silently truncated at the
    * fragment/query boundary (bytes PUT under the WRONG key with a 2xx),
    * and a space would throw URISyntaxException into the sink's
    * per-record swallow policy. '/' stays a segment separator (S3 key
    * convention); a literal '%' in the key is encoded as %25, so the
    * server decodes back to the exact key string.
    */
  private[sinks] def urlFor(key: String): java.net.URL =
    new java.net.URI(base.getScheme, base.getAuthority, s"${base.getPath}/$key", null, null).toURL

  override def put(key: String, bytes: Array[Byte], contentType: String, acl: String): Unit =
    HttpSend.send(
      urlFor(key),
      "PUT",
      Seq("Content-Type" -> contentType, "x-amz-acl" -> acl),
      bytes,
      timeoutMs,
      what = s"PUT $key")
}
