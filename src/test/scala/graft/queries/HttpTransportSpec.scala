package graft.queries

import graft.SourceGuard.calls
import org.scalatest.funsuite.AnyFunSuite

/** `graft.sinks.HttpSend` is the one HTTP transport: nothing else under
  * `src/main` opens a connection of its own beside the pooled client.
  */
class HttpTransportSpec extends AnyFunSuite {

  private val jdkConnection = """\bHttpURLConnection\b|\bopenConnection\s*\(""".r
  private val pool = """\bPoolingHttpClientConnectionManager\b""".r

  test("no code under src/main opens an HTTP connection outside the pooled transport") {
    assert(calls(pool).keySet == Set("graft/sinks/HttpSend.scala"), "guard found no pooled transport")
    assert(calls(jdkConnection).isEmpty, "a per-request JDK connection is a second transport")
  }
}
