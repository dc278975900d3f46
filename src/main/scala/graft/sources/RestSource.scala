package graft.sources

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

/** The wire contract of the reference's three REST APIs — the network
  * half of its four ETLs (VERDICT r3 "What's missing" #1). Spark-free:
  * the one extraction route, the `zolo-rest` DSv2 source
  * ([[ZoloRestProvider]]), plans partitions and parses records; this
  * module only speaks HTTP.
  *
  * Two pagination shapes exist in the reference, with different scale
  * ceilings:
  *
  *  - '''Token-chained''' (Square Connect v1, `square_ETL.py:73-93`): page
  *    N's request needs the `batch_token` scraped off page N−1's `Link`
  *    header — sequential WITHIN a time window ([[squareTokenChain]]),
  *    independent ACROSS windows ([[timeSlices]]), so the source runs
  *    one chain per window on executors.
  *  - '''Count-then-pages''' (Shopify `shopify_ETL.py:70-88`, QuickBooks
  *    `quickbooks_ETL.py:92-113`): one count request up front
  *    ([[countOf]]) determines every page URL, so the fetches are
  *    independent page partitions.
  */
object RestSource {

  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  /** Sequential token-chain fetch. Returns page bodies in fetch order;
    * `next` inspects each page (headers + body) and yields the next URL,
    * or None to stop — mirroring the reference's `while has_next_page` /
    * regex-on-Link loop (`square_ETL.py:76-93`). `maxPages` bounds a
    * server that never stops issuing tokens.
    */
  def fetchTokenPages(
      firstUrl: String,
      next: Page => Option[String],
      conf: HttpConf,
      maxPages: Int = 10000): Vector[String] = {
    val client = Http.newClient()
    val out    = Vector.newBuilder[String]
    var url    = Option(firstUrl)
    var n      = 0
    while (url.isDefined && n < maxPages) {
      val page = Http.get(client, url.get, conf)
      out += page.body
      url = next(page)
      n += 1
    }
    require(url.isEmpty, s"token pagination did not terminate within $maxPages pages")
    out.result()
  }

  /** Half-open ISO-instant time slices covering [begin, end): equal
    * whole-second sub-windows, boundaries exact, no overlap — the
    * standard remedy for a cursor API whose pagination is sequential
    * WITHIN a window but independent ACROSS windows.
    */
  def timeSlices(beginTime: String, endTime: String, n: Int): Vector[(String, String)] = {
    val b     = java.time.Instant.parse(beginTime)
    val e     = java.time.Instant.parse(endTime)
    val total = java.time.Duration.between(b, e).getSeconds
    require(total > 0, s"empty window [$beginTime, $endTime)")
    require(n >= 1, "need at least one slice")
    val bounds = (0 to n).map(i => b.plusSeconds(total * i / n)).distinct
    bounds.sliding(2).collect { case Seq(x, y) if x != y => (x.toString, y.toString) }.toVector
  }

  /** Parse a count endpoint's response body, following the dotted
    * `field` path — the DSv2 partition planner's count call
    * ([[ZoloRest.countRequest]]) — with a descriptive failure when a
    * 200 body is an error envelope without the field (the raw fold NPE'd
    * with no URL or body context).
    */
  private[sources] def countOf(body: String, field: String, context: String): Int = {
    // a 200 body that is not JSON at all must carry the same URL/body
    // context as the missing-field case — a bare Jackson parse error
    // names neither (chaos r8)
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      catch {
        case e: com.fasterxml.jackson.core.JacksonException =>
          throw new IllegalStateException(
            s"$context: unparseable count response: ${String.valueOf(body).take(200)}", e)
      }
    val out  = field.split('.').foldLeft(node)((n, f) => if (n == null) null else n.get(f))
    if (out == null || !out.canConvertToInt)
      throw new IllegalStateException(
        s"$context: count response has no integer field '$field': ${body.take(200)}")
    out.asInt
  }

  private val squareTokRe = """batch_token=(.*?)&begin_time=""".r
  // RFC 8288 link-relation match: quoted or unquoted rel value, optional
  // whitespace around `=`, case-insensitive ("rel=next", rel = "Next",
  // rel="prev next"). Token-BOUNDED (r13 review): without a boundary,
  // rel values merely starting with "next" (rel="next-archive",
  // rel=nextpage) — and `rel=next` text inside a link target URI —
  // would false-positive the truncation guard and throw on a correctly
  // completed chain. Quoted form: "next" as a space-separated list
  // member; unquoted form: next followed by a delimiter or end.
  private[sources] val relNextRe =
    """(?i)rel\s*=\s*("(?:[^"]*\s)?next(?:\s[^"]*)?"|next(?=[\s,;]|$))""".r

  /** ONE window's sequential batch-token chain — the Link-header regex
    * is the reference's own (`square_ETL.py:88-91`). The DSv2 partition
    * reader ([[ZoloRestReaderFactory]]) runs one per window partition.
    */
  def squareTokenChain(
      paymentsUrl: String,
      token: String,
      beginTime: String,
      endTime: String,
      maxPages: Int = 10000): Vector[String] = {
    val range = s"begin_time=${enc(beginTime)}&end_time=${enc(endTime)}"
    fetchTokenPages(
      s"$paymentsUrl?$range",
      // no Link header (or one without a rel="next" leg — e.g. a final
      // page advertising only rel="first"/"prev") = normal end of chain;
      // a NEXT link whose token the regex can NOT scrape is a contract
      // break that must fail loudly — the reference's regex-scrape loop
      // (square_ETL.py:88-91) would stop silently there, truncating the
      // chain and losing every record past it undetectably (chaos r8)
      p => p.header("Link") match {
        case None => None
        case Some(h) => squareTokRe.findFirstMatchIn(h) match {
          case Some(m) => Some(s"$paymentsUrl?batch_token=${m.group(1)}&$range")
          // RFC 8288 permits rel=next unquoted and with free whitespace;
          // recognizing only the quoted spelling would let an unquoted
          // next-leg whose token the regex can't scrape silently end the
          // chain — the exact undetectable tail loss this guard exists
          // to prevent (r12 review)
          case None if relNextRe.findFirstIn(h).isDefined => throw new IllegalStateException(
            "square pagination: rel=next Link present but batch_token did not match " +
              s"(refusing silent chain truncation): ${h.take(200)}")
          case None => None
        }
      },
      HttpConf().withBearer(token),
      maxPages)
  }
}
