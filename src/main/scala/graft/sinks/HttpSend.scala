package graft.sinks

import java.util.concurrent.TimeUnit

import org.apache.http.client.config.RequestConfig
import org.apache.http.client.methods.HttpEntityEnclosingRequestBase
import org.apache.http.config.RegistryBuilder
import org.apache.http.conn.socket.{ConnectionSocketFactory, PlainConnectionSocketFactory}
import org.apache.http.conn.ssl.SSLConnectionSocketFactory
import org.apache.http.entity.ByteArrayEntity
import org.apache.http.impl.client.{CloseableHttpClient, DefaultClientConnectionReuseStrategy, HttpClients}
import org.apache.http.impl.conn.PoolingHttpClientConnectionManager
import org.apache.http.util.EntityUtils

/** The one HTTP transport of the protocol stores ([[HttpObjectStore]]
  * S3-REST PUT, [[GcsObjectStore]] JSON-API media POST): a fixed-length
  * upload over a keep-alive connection, the response drained so the
  * connection goes back to the pool, and the non-2xx → IOException
  * contract that feeds [[ObjectSink]]'s per-record retry/swallow policy.
  *
  * Every store in one JVM sends through one Apache httpclient 4.5 client
  * over a [[PoolingHttpClientConnectionManager]], built lazily on first
  * use, so the stores stay serializable and hold no live resources. The
  * pool sets no limit of its own: the sink's per-task permits already
  * bound the PUTs in flight, so the pool opens at most one connection per
  * PUT in flight on a route and a PUT never waits for a connection. (The
  * JDK's `HttpURLConnection` cache kept 5 idle sockets per destination,
  * so about a third of a no-latency store's PUTs opened a new one.)
  *
  * The client:
  *   - no automatic retry: [[ObjectSink]]'s attempt loop, backoff and
  *     swallow-and-count are the only retry;
  *   - no redirect following: a 3xx is a non-2xx status;
  *   - no URI normalization: the request line carries the store's
  *     encoded key as it is, dot and empty segments included;
  *   - no cookies and no content decompression;
  *   - proxy settings (`http(s).proxyHost`, `http.nonProxyHosts`) through
  *     the JVM's default `ProxySelector`, and TLS trust and key stores
  *     (`javax.net.ssl.*`) through the system socket factory;
  *   - connections are reused whatever `http.keepAlive` says, and
  *     `http.maxConnections` does not apply.
  * Connections idle for 60 s are closed, like the sink's idle PUT threads.
  * One idle for more than 2 s (the pool's default) is checked before it
  * is reused; a server that closes a connection sooner than that fails
  * the attempt that reuses it, and the sink's retry covers it.
  */
private[sinks] object HttpSend {

  private lazy val client: CloseableHttpClient = {
    // useSystemProperties gives an explicit manager no TLS settings; the
    // system socket factory reads javax.net.ssl.*
    val sockets = RegistryBuilder
      .create[ConnectionSocketFactory]()
      .register("http", PlainConnectionSocketFactory.getSocketFactory)
      .register("https", SSLConnectionSocketFactory.getSystemSocketFactory)
      .build()
    val pool = new PoolingHttpClientConnectionManager(sockets)
    pool.setMaxTotal(Int.MaxValue)
    pool.setDefaultMaxPerRoute(Int.MaxValue)
    HttpClients
      .custom()
      .useSystemProperties()
      .setConnectionManager(pool)
      // set, so that useSystemProperties does not read http.keepAlive
      .setConnectionReuseStrategy(DefaultClientConnectionReuseStrategy.INSTANCE)
      .disableAutomaticRetries()
      .disableRedirectHandling()
      .disableCookieManagement()
      .disableContentCompression()
      .evictIdleConnections(60L, TimeUnit.SECONDS)
      .build()
  }

  def send(
      req: HttpEntityEnclosingRequestBase,
      headers: Seq[(String, String)],
      bytes: Array[Byte],
      timeoutMs: Int,
      what: String): Unit = {
    req.setConfig(
      RequestConfig
        .custom()
        .setConnectTimeout(timeoutMs)
        .setSocketTimeout(timeoutMs)
        .setNormalizeUri(false)
        .build())
    headers.foreach { case (k, v) => req.setHeader(k, v) }
    req.setEntity(new ByteArrayEntity(bytes))
    val resp = client.execute(req)
    try {
      // drain so the connection goes back to the pool, then judge the status
      EntityUtils.consume(resp.getEntity)
      val code = resp.getStatusLine.getStatusCode
      if (code < 200 || code >= 300)
        throw new java.io.IOException(s"$what -> HTTP $code")
    } finally resp.close()
  }
}
