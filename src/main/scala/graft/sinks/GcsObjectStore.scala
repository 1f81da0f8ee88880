package graft.sinks

import org.apache.http.client.methods.HttpPost

/** GCS-JSON-API-style [[ObjectStore]] over plain HTTP — the wire shape of
  * the reference's compiled product (/root/reference/src/Program.cs:109-118
  * uploads each tile via the JSON API media path with a canned public ACL
  * and `image/jpg` content type):
  *
  * {{{
  * POST <endpoint>/upload/storage/v1/b/<bucket>/o
  *      ?uploadType=media&name=<key>&predefinedAcl=publicRead
  * Content-Type: <contentType>
  * <body bytes>
  * }}}
  *
  * Differences from the S3-REST shape ([[HttpObjectStore]]) this
  * exercises deliberately: the object key travels as a URL-ENCODED QUERY
  * PARAMETER (not a path), the verb is POST (media upload), and the
  * canned ACL is the `predefinedAcl` query param (camel-cased — the
  * sink-level "public-read" maps to GCS's "publicRead"), not a header.
  * Any non-2xx status THROWS, so [[ObjectSink]]'s per-record
  * retry/swallow policy engages on real protocol errors (GCS throttling
  * answers 429) exactly as on client exceptions.
  *
  * Scope mirrors [[HttpObjectStore]]: endpoints where auth is ambient or
  * absent (an in-cluster proxy, a fake-gcs-server dev deployment, or the
  * test stub) — real GCS wants an OAuth bearer token, which lives in the
  * gcs-connector ([[HadoopFsStore]] is the swap-in there). What THIS
  * store certifies credential-free is the full JSON-API media-upload
  * contract: key→query mapping (encoding included), body bytes, content
  * type, canned ACL, idempotent re-POST, and error statuses driving the
  * retry path.
  */
final class GcsObjectStore(endpoint: String, bucket: String, timeoutMs: Int = 30000)
    extends ObjectStore {

  /** Sink-level (S3-style kebab-case) canned ACL → the GCS
    * `predefinedAcl` camelCase enum. Generic kebab→camel for the whole
    * canned family (r15 self-review: mapping only "public-read" let any
    * other valid canned ACL reach a GCS endpoint verbatim, turning a
    * config-level spelling issue into per-record 400-swallow failures).
    */
  private[sinks] def gcsAcl(acl: String): String =
    acl.split('-').toList match {
      case head :: tail => head + tail.map(_.capitalize).mkString
      case Nil => acl
    }

  private[graft] def urlFor(key: String, acl: String): java.net.URI = {
    // RFC-3986 percent-encoding for the query VALUE (r15 ADVICE):
    // URLEncoder emits form encoding, where a space becomes '+'; a
    // server parsing the query per RFC 3986 (no form semantics) would
    // store such a key with a literal '+'. '%20' decodes to a space
    // under BOTH conventions, so the key round-trips either way; a
    // literal '+' in the key is already '%2B' after encode.
    val enc = java.net.URLEncoder.encode(key, "UTF-8").replace("+", "%20")
    java.net.URI.create(
      s"${endpoint.stripSuffix("/")}/upload/storage/v1/b/$bucket/o" +
        s"?uploadType=media&name=$enc&predefinedAcl=${gcsAcl(acl)}")
  }

  override def put(key: String, bytes: Array[Byte], contentType: String, acl: String): Unit =
    HttpSend.send(
      new HttpPost(urlFor(key, acl)),
      Seq("Content-Type" -> contentType),
      bytes,
      timeoutMs,
      what = s"media upload $key")
}
