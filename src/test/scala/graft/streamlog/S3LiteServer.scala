package graft.streamlog

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process S3-semantics conformance server — the spec fixture the
  * [[S3MetaStore]]/[[S3SegmentStore]] adapters are driven against over
  * REAL sockets. Implements the documented subset the adapters speak:
  *
  *   - `PUT /bucket/key` with `If-Match: <etag>` (compare-and-swap on
  *     overwrite) and `If-None-Match: *` (create-only) — 200 with the
  *     new ETag, 412 on a lost precondition, exactly the S3
  *     conditional-write API; unconditional PUT always lands.
  *   - `GET /bucket/key` — 200 + ETag (MD5 of content, quoted, as S3
  *     computes for non-multipart objects) or 404; with an
  *     `If-None-Match` equal to the object's ETag (or `*`), 304 with the
  *     ETag and no body (the poll probe).
  *   - `HEAD /bucket/key` — 200 + ETag, no body (the existence check).
  *   - `DELETE /bucket/key` — 204, idempotent.
  *   - `GET /bucket?list-type=2&prefix=&continuation-token=` —
  *     ListObjectsV2 XML (keys XML-escaped, as S3 does without an
  *     encoding-type), `maxKeys` per page with a continuation cursor
  *     (set it low in specs to force the adapters to drain pagination
  *     the way a 1000-key S3 page boundary would).
  *
  * `auth = Some(creds)`: every request must carry a SigV4
  * `Authorization` header that the server RE-DERIVES from the received
  * request — method, raw path, canonicalized query, the received
  * values of the signed headers, and the payload hash (which must also
  * match the actual body) — with the shared secret; a missing or
  * mismatched signature is a 403, as on real S3. This is what makes
  * the signing spec end-to-end rather than a client self-check.
  *
  * `failPuts` injects 409 ConcurrentModification responses — the
  * spurious rejection S3 returns when conditional attempts overlap in
  * flight (MetaStore stated requirement #2) — so specs can prove the
  * retry path through a real status code, not a simulated boolean.
  * Per-method hit counters (`gets`/`heads`/`puts`/`deletes`) let specs
  * assert the wire ECONOMY — e.g. an idle poll loop's GETs are all
  * bodiless 304s (`notModified`), and one uncontended commit is
  * exactly 1 GET + 1 PUT.
  * All object state is strongly consistent (read-after-write GET and
  * LIST), matching current S3/R2; the lagged-LIST stress lives in
  * [[EventualListSegmentStore]].
  */
/** JVM-wide serialization for tests that GENERATE wire faults or tune
  * [[S3Http.retryPolicy]] / read the process-wide retry counters.
  * Suites run concurrently in the forked test JVM; before r19 only one
  * suite could move the throttle counters, but transport-fault retry
  * means ANY suite that kills connections (fault storms, server
  * restarts, dropped responses on segment PUTs) now increments the
  * shared transport counters — an exact counter assertion in one suite
  * would race a fault generated in another. Hold this lock for the
  * duration of any such test. */
object WireFaultSerial

object S3LiteServer {
  /** Throttle storm (r18 — the real-cloud failure mode every fleet
    * hits): with a storm armed, each request draws from a SEEDED rng;
    * a draw below `p` starts a burst of `burstLen` consecutive
    * throttle responses (bursts are how per-prefix rate limits
    * actually manifest — a hot prefix rejects everything for a beat,
    * not a Bernoulli trickle). Each injected fault is a 503 SlowDown,
    * except a `mix500` fraction which answer 500 InternalError (the
    * other documented retry-me class). `retryAfterSec` emits the
    * delta-seconds `Retry-After` header on the 503s so clients'
    * header-honoring path is exercisable. Faults fire BEFORE the
    * method handlers — pre-side-effect, exactly the semantics that
    * make client replay unconditionally safe. */
  final case class ThrottleStorm(seed: Long, p: Double, burstLen: Int = 1,
                                 retryAfterSec: Option[Int] = None,
                                 mix500: Double = 0.0)

  /** Connection-fault storm (r19 — the transport-level transient class:
    * real networks reset connections far more often than servers send
    * 503). Each request draws from a SEEDED rng; a draw below `p` kills
    * the TCP conversation instead of answering, at a kill point drawn
    * uniformly from `modes`:
    *
    *   - `pre`     — close after reading the request, before any side
    *                 effect or response byte (reset/refused shape; a
    *                 replay is trivially safe);
    *   - `reqbody` — read only a prefix of the request body, then
    *                 close (mid-request-body kill: a large upload sees
    *                 broken-pipe while still streaming);
    *   - `mid`     — apply the handler, declare the full response
    *                 length, write about half the body, close
    *                 (truncated read — the client must DISCARD the
    *                 partial bytes and re-request);
    *   - `post`    — apply the side effect, then close with no
    *                 response at all (landed-but-lost: the ambiguous
    *                 write the commit protocol must resolve).
    *
    * Unlike the throttle storm, `mid`/`post` kills are NOT
    * pre-side-effect — that asymmetry is the point: they are exactly
    * the faults whose replay safety each adapter path must earn
    * (idempotent verb, documented-replace write, or the conditional
    * protocol's re-read-and-redecide). */
  final case class FaultStorm(seed: Long, p: Double,
                              modes: Seq[String] =
                                Seq("pre", "reqbody", "mid", "post")) {
    require(modes.nonEmpty &&
      modes.forall(Set("pre", "reqbody", "mid", "post")),
      s"malformed FaultStorm modes: $modes")
  }
}

final class S3LiteServer(maxKeys: Int = 1000,
                         auth: Option[SigV4Credentials] = None) {

  /** The credentials the verifier CURRENTLY accepts — rotatable
    * mid-run to simulate STS token expiry: after [[rotate]], requests
    * signed with the old token 403 exactly as real S3 does when a
    * session token expires (r17 — the credential-refresh battery's
    * server side). */
  @volatile private var acceptedAuth: Option[SigV4Credentials] = auth
  def rotate(fresh: SigV4Credentials): Unit = {
    require(acceptedAuth.isDefined,
      "rotate() only makes sense on a server that requires auth")
    acceptedAuth = Some(fresh)
  }

  // key -> (bytes, etag, lastModifiedMs); one lock = the linearizable
  // conditional-write point a real bucket's backend provides
  private val objects =
    scala.collection.mutable.TreeMap.empty[String, (Array[Byte], String, Long)]
  // pending multipart uploads: uploadId -> (key, partNumber ->
  // (bytes, md5 digest)). The digest is computed ONCE at part-PUT time
  // (outside the lock); complete validates and derives the composite
  // ETag from the STORED digests — re-hashing every part at complete
  // time measured ~1.1 s of pure lock-held MD5 on a 256 MiB upload.
  // Parts of a pending upload are NOT objects (not GETtable, not
  // listed) — exactly S3's model, which is why client abort is the
  // only cleanup path for a failed upload.
  private val uploads = scala.collection.mutable.Map.empty[
    String,
    (String, scala.collection.mutable.TreeMap[Int, (Array[Byte], Array[Byte])])]
  /** Pending multipart uploads — 0 after every completed OR aborted
    * upload (the no-billable-parts-left assertion). */
  def pendingUploads: Int = objects.synchronized(uploads.size)
  import S3LiteServer.{FaultStorm, ThrottleStorm}

  @volatile private var storm: Option[ThrottleStorm] = None
  private var stormRng: java.util.Random = null
  private var stormBurstLeft = 0

  // ---- connection-fault injection (r19) ----
  @volatile private var faultStorm: Option[FaultStorm] = None
  private var faultRng: java.util.Random = null
  /** One-shot deterministic kills: each entry is a mode consumed by the
    * next request — the surgical counterpart of the probabilistic
    * [[FaultStorm]]. */
  val killNext = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Injected connection kills, by kill point. AtomicInteger (ADVICE
    * r19): handler threads increment concurrently, and the client-side
    * AtomicLong retry counters are reconciled against these — a lost
    * `+= 1` read-modify-write would intermittently understate kills. */
  private val killedPreN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val killedReqN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val killedMidN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val killedPostN = new java.util.concurrent.atomic.AtomicInteger(0)
  def killedPre: Int = killedPreN.get
  def killedReq: Int = killedReqN.get
  def killedMid: Int = killedMidN.get
  def killedPost: Int = killedPostN.get
  def connectionKills: Int = killedPre + killedReq + killedMid + killedPost

  def startFaults(f: FaultStorm): Unit = synchronized {
    require(f.p >= 0 && f.p <= 1, s"malformed fault storm: $f")
    faultRng = new java.util.Random(f.seed)
    faultStorm = Some(f)
  }
  def stopFaults(): Unit = synchronized { faultStorm = None }

  /** Draw the kill decision for one request: None = serve normally,
    * Some(mode) = kill the connection at that point. A one-shot `none`
    * entry is an explicit passthrough — padding that lets specs aim a
    * kill at the Nth request of a deterministic sequence. */
  private def faultDraw(): Option[String] = synchronized {
    Option(killNext.poll()) match {
      case Some("none") => None
      case Some(m) => Some(m)
      case None => faultStorm.flatMap { f =>
        if (faultRng.nextDouble() < f.p)
          Some(f.modes(faultRng.nextInt(f.modes.size)))
        else None
      }
    }
  }
  /** Injected throttle responses, by class (the storm evidence specs
    * and BENCH_STREAMLOG reconcile against client retry counters). */
  @volatile var throttled503: Int = 0
  @volatile var throttled500: Int = 0

  def startStorm(s: ThrottleStorm): Unit = synchronized {
    require(s.p >= 0 && s.p <= 1 && s.burstLen >= 1 &&
      s.mix500 >= 0 && s.mix500 <= 1, s"malformed storm: $s")
    stormRng = new java.util.Random(s.seed)
    stormBurstLeft = 0
    storm = Some(s)
  }
  def stopStorm(): Unit = synchronized { storm = None }

  /** One-shot deterministic throttles: the next n requests answer 503
    * (with the storm's Retry-After if one is armed via [[startStorm]],
    * else `throttleRetryAfterSec`) — the surgical counterpart of the
    * probabilistic storm, for specs that need exactly one fault on a
    * known request. */
  @volatile var throttleNext: Int = 0
  @volatile var throttleRetryAfterSec: Option[Int] = None
  /** Verbatim `Retry-After` header value for injected throttles —
    * takes precedence over the delta-seconds knobs, for exercising the
    * RFC 7231 HTTP-date form (and garbage values) on the wire. */
  @volatile var throttleRetryAfterRaw: Option[String] = None

  /** Draw the storm/one-shot decision for one request: None = serve
    * normally, Some(status -> retryAfter) = inject. */
  private def throttleDraw(): Option[(Int, Option[Int])] = synchronized {
    if (throttleNext > 0) {
      throttleNext -= 1
      throttled503 += 1
      return Some(503 -> throttleRetryAfterSec)
    }
    storm match {
      case None => None
      case Some(s) =>
        if (stormBurstLeft > 0) stormBurstLeft -= 1
        else if (stormRng.nextDouble() < s.p) stormBurstLeft = s.burstLen - 1
        else return None
        if (s.mix500 > 0 && stormRng.nextDouble() < s.mix500) {
          throttled500 += 1
          Some(500 -> None) // S3 sends Retry-After on SlowDown, not 500
        } else {
          throttled503 += 1
          Some(503 -> s.retryAfterSec)
        }
    }
  }

  /** Part numbers whose UploadPart PUTs ALWAYS 409 — the deterministic
    * concurrent-abort gate (a `failPuts` count is consumed by whichever
    * PUT arrives first, which is racy once parts fly in parallel). */
  /** SSE-style part ETags (ADVICE r19): when true, part PUTs answer an
    * opaque non-MD5 ETag (as SSE-KMS / SSE-C buckets and some
    * S3-compatibles do) and the composite object ETag is likewise not
    * the predictable MD5-of-MD5s form — the client cannot decode or
    * predict ETags, which is exactly the world the lazy/Try-guarded
    * expectEtag must survive. */
  @volatile var ssePartEtags: Boolean = false
  private def partEtagOf(d: Array[Byte]): String =
    if (ssePartEtags) "\"sse-" + d.map("%02x".format(_)).mkString + "\""
    else quoteHex(d)
  @volatile var failPartNumbers409: Set[Int] = Set.empty
  /** Part numbers whose UploadPart PUTs ALWAYS 400 InvalidArgument —
    * the deterministic-4xx gate (ADVICE r17 #2: a 4xx must abort
    * immediately, never re-upload the part). */
  @volatile var failPartNumbers400: Set[Int] = Set.empty
  private val partPutTries = scala.collection.mutable.Map.empty[Int, Int]
  /** How many UploadPart PUTs arrived for part `pn` (all uploads on
    * this server instance) — the no-wasted-re-upload evidence. */
  def partPutCount(pn: Int): Int =
    objects.synchronized(partPutTries.getOrElse(pn, 0))

  @volatile var failPuts: Int = 0
  /** Apply the next n PUTs but close the connection WITHOUT a response
    * — the ambiguous outcome (write landed, response lost) that
    * MetaStore's stated requirement #3 demands adapters resolve as
    * lost-and-retry. */
  @volatile var dropResponses: Int = 0

  // Per-method hit counters. AtomicInteger, like the kill counters:
  // the 8 handler threads increment them concurrently, and a `+= 1` on
  // a volatile Int loses increments, which exact wire-count specs see.
  private val putsN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val postsN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val getsN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val headsN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val notModifiedN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val deletesN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val rangeGetsN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val range416sN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val batchDeletedKeysN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val authRejectsN = new java.util.concurrent.atomic.AtomicInteger(0)
  def puts: Int = putsN.get
  /** Multipart control-plane POSTs (initiate + complete). */
  def posts: Int = postsN.get
  def gets: Int = getsN.get
  def heads: Int = headsN.get
  /** GETs answered 304 because `If-None-Match` named the object's
    * current ETag — counted in [[gets]] as well. */
  def notModified: Int = notModifiedN.get
  def deletes: Int = deletesN.get
  /** GETs that carried a `Range: bytes=a-b` header and were answered
    * 206 — the range-streaming read path's wire evidence. */
  def rangeGets: Int = rangeGetsN.get
  /** Range GETs answered 416 (start at/past EOF) — counted separately
    * (ADVICE r19) so specs can assert the reader issues NO trailing
    * past-EOF request when the object length is known. */
  def range416s: Int = range416sN.get
  /** Keys removed through multi-object delete (`POST ?delete`) — the
    * batch-economy evidence: k keys for one POST. */
  def batchDeletedKeys: Int = batchDeletedKeysN.get
  /** Per-key failure injection for multi-object delete: keys in this
    * set are NOT removed and come back as `<Error>` entries inside the
    * 200 DeleteResult (quiet mode lists only failures) — the
    * documented partial-failure shape real S3 reports. */
  @volatile var failDeleteKeys: Set[String] = Set.empty
  /** 403s issued by the SigV4 verifier (0 on a healthy signed run). */
  def authRejects: Int = authRejectsN.get
  private val getsByKey =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  /** Object GETs of `key` (e.g. `s1/meta.jsonl`), Range GETs included. */
  def getsOf(key: String): Int = Option(getsByKey.get(key)).fold(0)(_.get)
  /** Artificial per-request latency — loopback RTT is ~0, so overlap
    * effects (range readahead, parallel parts) need a simulated wire
    * delay to be measurable. Applied before any handler. */
  @volatile var responseDelayMs: Long = 0

  private def boot(port: Int): HttpServer = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    s.createContext("/", (ex: HttpExchange) => handle(ex))
    s.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    s.start()
    s
  }
  @volatile private var server = boot(0)

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Stop serving AND shut the worker pool down: the pool's threads
    * are non-daemon, so a leaked pool keeps a forked `runMain` JVM
    * (BenchStreamlog) alive forever after main returns — the test
    * framework's force-exit masked this for specs (r17). */
  def stop(): Unit = {
    server.stop(0)
    shutdownPool(server)
  }

  private def shutdownPool(s: HttpServer): Unit = s.getExecutor match {
    case es: java.util.concurrent.ExecutorService => es.shutdown(): Unit
    case _ => ()
  }

  /** Simulate a bucket-endpoint process restart: tear the HTTP server
    * down and re-bind the SAME port over the SAME (durable) object
    * state — in-flight connections die, clients reconnect, and every
    * ETag re-derives identically because S3 ETags are content digests
    * (which is exactly why the MetaStore tag survives a server
    * restart). */
  def restart(): Unit = {
    val port = server.getAddress.getPort
    server.stop(0)
    shutdownPool(server)
    // same-port re-bind can briefly lose to lingering connections
    // (TIME_WAIT) — retry within a bounded window, as a restarting
    // real endpoint process effectively does
    val deadline = System.currentTimeMillis() + 10000
    var booted: HttpServer = null
    while (booted == null) {
      try booted = boot(port)
      catch {
        case e: java.net.BindException =>
          if (System.currentTimeMillis() > deadline) throw e
          Thread.sleep(50)
      }
    }
    server = booted
  }
  def keys: Seq[String] = objects.synchronized(objects.keys.toSeq)
  def hitCounts: Map[String, Int] =
    Map("GET" -> gets, "HEAD" -> heads, "PUT" -> puts, "DELETE" -> deletes)

  private def md5digest(b: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(b)

  private def quoteHex(digest: Array[Byte]): String =
    "\"" + digest.map("%02x".format(_)).mkString + "\""

  private def md5(b: Array[Byte]): String = quoteHex(md5digest(b))

  /** Close the exchange knowing its streams may be mid-protocol — the
    * server implementation terminates the CONNECTION when an exchange
    * closes unfinished, which is exactly the abrupt TCP kill the fault
    * modes simulate. */
  private def abruptClose(ex: HttpExchange): Unit =
    try ex.close() catch { case _: java.io.IOException => () }

  /** The kill mode armed for the request currently being handled on
    * THIS worker thread. NOT an HttpExchange attribute — those are
    * stored in the shared HttpContext, so a per-request flag set there
    * would leak onto every later request of the context (observed: one
    * armed 'mid' kill poisoned the whole connection's future). Handlers
    * are synchronous, so a ThreadLocal set in handle() and read in
    * respond() is exactly request-scoped. */
  private val armedKill = new ThreadLocal[String]

  private def respond(ex: HttpExchange, status: Int,
                      body: Array[Byte] = Array.emptyByteArray,
                      etag: Option[String] = None): Unit = {
    // armed kill points that fire AT response time (side effects, if
    // any, have been applied by now — that is their point)
    val kill = armedKill.get
    armedKill.remove() // consume: at most one kill per armed request
    kill match {
      case "post" =>
        killedPostN.incrementAndGet(): Unit; abruptClose(ex); return
      case "mid" if ex.getRequestMethod != "HEAD" && body.length >= 2 =>
        // declare the full length, deliver about half, kill: the
        // client reads a truncated fixed-length body → IOException
        killedMidN.incrementAndGet(): Unit
        etag.foreach(e => ex.getResponseHeaders.set("ETag", e))
        ex.sendResponseHeaders(status, body.length.toLong)
        try {
          ex.getResponseBody.write(body, 0, body.length / 2)
          ex.getResponseBody.flush()
        } catch { case _: java.io.IOException => () }
        abruptClose(ex)
        return
      case "mid" =>
        // a headers-only response has no body to truncate — the
        // closest faithful kill is close-without-response
        killedPostN.incrementAndGet(): Unit; abruptClose(ex); return
      case _ => ()
    }
    etag.foreach(e => ex.getResponseHeaders.set("ETag", e))
    if (ex.getRequestMethod == "HEAD")
      ex.sendResponseHeaders(status, -1) // headers only, ETag included
    else {
      ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) ex.getResponseBody.write(body)
    }
    ex.close()
  }

  /** Recompute the SigV4 signature from the RECEIVED request and
    * compare — returns None when authorized, Some(reason) otherwise.
    * Accepts either header-based auth (Authorization) or query-string
    * auth (presigned URLs — X-Amz-Signature in the query), re-deriving
    * both from the received request exactly as real S3 does. */
  private def verifySig(ex: HttpExchange, body: Array[Byte]): Option[String] =
    acceptedAuth.flatMap { creds =>
      val rawQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      if (Option(ex.getRequestHeaders.getFirst("Authorization")).isEmpty &&
          rawQuery.contains("X-Amz-Signature="))
        return verifyPresigned(ex, creds, rawQuery)
      val hdr = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse(return Some("missing Authorization"))
      // AWS4-HMAC-SHA256 Credential=AK/date/region/service/aws4_request,
      //   SignedHeaders=a;b;c, Signature=hex
      val credRe = "Credential=([^,\\s]+)".r
      val shRe = "SignedHeaders=([^,\\s]+)".r
      val sigRe = "Signature=([0-9a-f]+)".r
      val credParts = credRe.findFirstMatchIn(hdr).map(_.group(1).split("/"))
        .getOrElse(return Some("malformed Credential"))
      if (credParts.length != 5) return Some("malformed scope")
      val Array(ak, _, region, service, _) = credParts
      if (ak != creds.accessKey) return Some(s"unknown access key $ak")
      if (region != creds.region || service != creds.service)
        return Some(s"scope mismatch: $region/$service")
      val signedNames = shRe.findFirstMatchIn(hdr).map(_.group(1).split(";").toSeq)
        .getOrElse(return Some("missing SignedHeaders"))
      val claimed = sigRe.findFirstMatchIn(hdr).map(_.group(1))
        .getOrElse(return Some("missing Signature"))
      if (!signedNames.contains("host"))
        return Some("host not signed")
      // STS: a server configured with temporary credentials REQUIRES
      // the session token to be present, correct, AND inside the
      // signed header set — as real S3 does for temporary creds
      creds.sessionToken.foreach { tok =>
        val got = Option(ex.getRequestHeaders.getFirst("x-amz-security-token"))
          .getOrElse(return Some("missing x-amz-security-token"))
        if (got != tok) return Some("session token mismatch")
        if (!signedNames.contains("x-amz-security-token"))
          return Some("x-amz-security-token not signed")
      }
      val amzDate = Option(ex.getRequestHeaders.getFirst("x-amz-date"))
        .getOrElse(return Some("missing x-amz-date"))
      val payloadHash = Option(
        ex.getRequestHeaders.getFirst("x-amz-content-sha256"))
        .getOrElse(SigV4.EmptyPayloadHash)
      if ((ex.getRequestMethod == "PUT" || ex.getRequestMethod == "POST") &&
          payloadHash != SigV4.sha256Hex(body))
        return Some("payload hash does not match body")
      val hs = signedNames.map { n =>
        n -> Option(ex.getRequestHeaders.getFirst(n)).getOrElse(
          return Some(s"signed header $n absent"))
      }
      val cq = Option(ex.getRequestURI.getRawQuery)
        .map(SigV4.rawQueryToCanonical).getOrElse("")
      val expect = SigV4.signature(
        creds.copy(region = region, service = service), amzDate,
        ex.getRequestMethod, ex.getRequestURI.getRawPath, cq, hs, payloadHash)
      if (expect == claimed) None
      else Some(s"signature mismatch (expected $expect)")
    }

  /** Presigned-URL verification (query-string auth): rebuild the
    * canonical query from every received parameter EXCEPT
    * X-Amz-Signature, re-derive with UNSIGNED-PAYLOAD over the signed
    * headers the URL names, and enforce the X-Amz-Date + X-Amz-Expires
    * window against the server clock — the documented semantics. */
  private def verifyPresigned(ex: HttpExchange, creds: SigV4Credentials,
                              rawQuery: String): Option[String] = {
    if (ex.getRequestMethod == "PUT" || ex.getRequestMethod == "DELETE")
      return Some("presigned auth only accepted for reads here")
    val pairs = rawQuery.split("&").toSeq.filter(_.nonEmpty).map { p =>
      val i = p.indexOf('=')
      val (k, v) = if (i < 0) (p, "") else (p.take(i), p.drop(i + 1))
      (java.net.URLDecoder.decode(k.replace("+", "%2B"), UTF_8),
        java.net.URLDecoder.decode(v.replace("+", "%2B"), UTF_8))
    }
    val m = pairs.toMap
    val claimed = m.getOrElse("X-Amz-Signature", return Some("missing X-Amz-Signature"))
    if (!m.get("X-Amz-Algorithm").contains("AWS4-HMAC-SHA256"))
      return Some("bad X-Amz-Algorithm")
    val credParts = m.getOrElse("X-Amz-Credential",
      return Some("missing X-Amz-Credential")).split("/")
    if (credParts.length != 5) return Some("malformed X-Amz-Credential")
    if (credParts(0) != creds.accessKey)
      return Some(s"unknown access key ${credParts(0)}")
    val amzDate = m.getOrElse("X-Amz-Date", return Some("missing X-Amz-Date"))
    val expires = m.getOrElse("X-Amz-Expires", return Some("missing X-Amz-Expires")).toLong
    val issued = java.time.Instant.from(java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .parse(amzDate))
    if (java.time.Instant.now().isAfter(issued.plusSeconds(expires)))
      return Some("presigned URL expired")
    creds.sessionToken.foreach { tok =>
      if (!m.get("X-Amz-Security-Token").contains(tok))
        return Some("missing or wrong X-Amz-Security-Token")
    }
    val signedNames = m.getOrElse("X-Amz-SignedHeaders",
      return Some("missing X-Amz-SignedHeaders")).split(";").toSeq
    if (!signedNames.contains("host")) return Some("host not signed")
    val hs = signedNames.map { n =>
      n -> Option(ex.getRequestHeaders.getFirst(n)).getOrElse(
        return Some(s"signed header $n absent"))
    }
    val cq = SigV4.canonicalQuery(pairs.filterNot(_._1 == "X-Amz-Signature"))
    val expect = SigV4.signature(
      creds.copy(region = credParts(2), service = credParts(3)), amzDate,
      ex.getRequestMethod, ex.getRequestURI.getRawPath, cq, hs,
      "UNSIGNED-PAYLOAD")
    if (expect == claimed) None
    else Some(s"presigned signature mismatch (expected $expect)")
  }

  private def handle(ex: HttpExchange): Unit = try {
    armedKill.remove() // request-scoped: never inherit a stale kill
    if (responseDelayMs > 0) Thread.sleep(responseDelayMs)
    val path = ex.getRequestURI.getPath.stripPrefix("/")
    val slash = path.indexOf('/')
    val key = if (slash < 0) "" else path.substring(slash + 1)
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val hasBody =
      ex.getRequestMethod == "PUT" || ex.getRequestMethod == "POST"
    // connection-fault draw happens FIRST — a TCP reset does not wait
    // for auth or handlers. pre/reqbody kill here; mid/post arm an
    // attribute that fires inside respond(), AFTER side effects.
    faultDraw() match {
      case Some("reqbody") if hasBody =>
        killedReqN.incrementAndGet(): Unit
        // read only a prefix, then kill: a client still streaming a
        // large body sees broken-pipe; a small body sees lost-response
        ex.getRequestBody.read(new Array[Byte](64)): Unit
        abruptClose(ex)
        return
      case Some("pre") | Some("reqbody") =>
        killedPreN.incrementAndGet(): Unit; abruptClose(ex); return
      case Some(m) => armedKill.set(m)
      case None => ()
    }
    val body =
      if (hasBody) ex.getRequestBody.readAllBytes()
      else Array.emptyByteArray
    verifySig(ex, body) match {
      case Some(reason) =>
        authRejectsN.incrementAndGet()
        System.err.println(s"[s3lite] 403: $reason")
        respond(ex, 403)
        return
      case None => ()
    }
    // storm injection AFTER auth (the request is genuine) and BEFORE
    // any handler: a throttled request has no side effect, which is
    // what licenses the client's unconditional replay
    throttleDraw() match {
      case Some((status, retryAfter)) =>
        throttleRetryAfterRaw.orElse(retryAfter.map(_.toString)).foreach(v =>
          ex.getResponseHeaders.set("Retry-After", v))
        val code = if (status == 503) "SlowDown" else "InternalError"
        respond(ex, status,
          s"<Error><Code>$code</Code></Error>".getBytes(UTF_8))
        return
      case None => ()
    }
    def q(name: String) = qparam(query, name)
    def hasBare(name: String) =
      query.split("&").exists(p => p == name || p.startsWith(s"$name="))
    (ex.getRequestMethod, key) match {
      case ("GET", "") if query.contains("list-type=2") =>
        getsN.incrementAndGet()
        list(ex, query)

      // ---- multi-object delete (the documented DeleteObjects API:
      // bucket-level POST ?delete, <= 1000 keys, Content-MD5 REQUIRED,
      // quiet mode returns an empty DeleteResult; absent keys are
      // no-ops, exactly like single DELETE) ----
      case ("POST", "") if hasBare("delete") =>
        postsN.incrementAndGet()
        val want = java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("MD5").digest(body))
        if (!Option(ex.getRequestHeaders.getFirst("Content-MD5")).contains(want))
          respond(ex, 400,
            "<Error><Code>InvalidDigest</Code></Error>".getBytes(UTF_8))
        else {
          val keys = "(?s)<Key>(.*?)</Key>".r
            .findAllMatchIn(new String(body, UTF_8))
            .map(m => xmlUnescapeSrv(m.group(1))).toSeq
          if (keys.isEmpty || keys.size > 1000)
            respond(ex, 400,
              "<Error><Code>MalformedXML</Code></Error>".getBytes(UTF_8))
          else objects.synchronized {
            val (bad, ok) = keys.partition(failDeleteKeys.contains)
            ok.foreach(k => objects.remove(k))
            batchDeletedKeysN.addAndGet(ok.size)
            val errs = bad.map(k =>
              s"<Error><Key>${xmlEscape(k)}</Key><Code>InternalError</Code>" +
                "<Message>injected per-key failure</Message></Error>").mkString
            respond(ex, 200,
              ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
                s"<DeleteResult>$errs</DeleteResult>").getBytes(UTF_8))
          }
        }

      // ---- multipart upload (the documented S3 MPU protocol) ----
      case ("POST", k) if hasBare("uploads") =>
        postsN.incrementAndGet()
        val id = java.util.UUID.randomUUID().toString
        objects.synchronized {
          uploads.put(id, (k, scala.collection.mutable.TreeMap.empty))
        }
        respond(ex, 200,
          ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
            "<InitiateMultipartUploadResult>" +
            s"<Bucket>${path.takeWhile(_ != '/')}</Bucket>" +
            s"<Key>${xmlEscape(k)}</Key><UploadId>$id</UploadId>" +
            "</InitiateMultipartUploadResult>").getBytes(UTF_8))

      case ("PUT", k) if q("partNumber").isDefined && q("uploadId").isDefined =>
        val pn = q("partNumber").get.toInt
        val id = q("uploadId").get
        // part-body digest OUTSIDE the object lock: a 64 MiB MD5 held
        // under the global lock would serialize parallel part uploads
        // server-side, masking the client concurrency the MPU bench
        // exists to measure (real S3 obviously hashes parts in
        // parallel)
        val partDigest = md5digest(body)
        objects.synchronized {
          putsN.incrementAndGet()
          partPutTries(pn) = partPutTries.getOrElse(pn, 0) + 1
          if (failPartNumbers409.contains(pn)) respond(ex, 409)
          else if (failPartNumbers400.contains(pn))
            respond(ex, 400,
              "<Error><Code>InvalidArgument</Code><Message>injected</Message></Error>"
                .getBytes(UTF_8))
          else if (failPuts > 0) { failPuts -= 1; respond(ex, 409) }
          else if (pn < 1 || pn > 10000)
            // real S3: InvalidArgument, not NoSuchUpload
            respond(ex, 400,
              "<Error><Code>InvalidArgument</Code></Error>".getBytes(UTF_8))
          else uploads.get(id) match {
            case Some((uk, parts)) if uk == k =>
              parts.put(pn, (body, partDigest))
              respond(ex, 200, etag = Some(partEtagOf(partDigest)))
            case _ => respond(ex, 404) // NoSuchUpload / key mismatch
          }
        }

      case ("POST", k) if q("uploadId").isDefined =>
        postsN.incrementAndGet()
        completeMultipart(ex, k, q("uploadId").get, body)

      case ("DELETE", k) if q("uploadId").isDefined =>
        deletesN.incrementAndGet()
        objects.synchronized {
          uploads.remove(q("uploadId").get) match {
            case Some((uk, _)) if uk == k => respond(ex, 204)
            case Some(other) => // wrong key: restore, refuse
              uploads.put(q("uploadId").get, other); respond(ex, 404)
            case None => respond(ex, 404)
          }
        }
      case ("GET", k) =>
        getsN.incrementAndGet()
        getsByKey.computeIfAbsent(k, _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
        objects.synchronized(objects.get(k)) match {
          case Some((_, e, _)) if Option(ex.getRequestHeaders.getFirst("If-None-Match"))
              .exists(v => v == e || v == "*") =>
            notModifiedN.incrementAndGet()
            respond(ex, 304, etag = Some(e))
          case Some((b, e, _)) =>
            // Range: bytes=a-b (inclusive, as S3 serves) → 206 with the
            // slice; a start at/past the object's end → 416, the signal
            // the range-streaming reader uses for end-of-object
            Option(ex.getRequestHeaders.getFirst("Range")) match {
              case Some(r) if r.startsWith("bytes=") =>
                val Array(a, bEnd) = r.stripPrefix("bytes=").split("-", 2)
                val start = a.toLong
                if (start >= b.length) { range416sN.incrementAndGet(); respond(ex, 416) }
                else {
                  val endIncl = if (bEnd.isEmpty) b.length - 1L
                    else math.min(bEnd.toLong, b.length - 1L)
                  rangeGetsN.incrementAndGet()
                  // Content-Range with the total, as real S3 sends on
                  // every 206 — the prefetching reader plans its
                  // readahead from it (r19)
                  ex.getResponseHeaders.set("Content-Range",
                    s"bytes $start-$endIncl/${b.length}")
                  respond(ex, 206,
                    java.util.Arrays.copyOfRange(b, start.toInt, endIncl.toInt + 1),
                    Some(e))
                }
              case _ => respond(ex, 200, b, Some(e))
            }
          case None => respond(ex, 404)
        }
      case ("HEAD", k) =>
        headsN.incrementAndGet()
        objects.synchronized(objects.get(k)) match {
          case Some((_, e, _)) => respond(ex, 200, etag = Some(e))
          case None => respond(ex, 404)
        }
      case ("DELETE", k) =>
        deletesN.incrementAndGet()
        objects.synchronized(objects.remove(k))
        respond(ex, 204)
      case ("PUT", k) =>
        val ifMatch = Option(ex.getRequestHeaders.getFirst("If-Match"))
        val ifNone = Option(ex.getRequestHeaders.getFirst("If-None-Match"))
        // content digest OUTSIDE the lock (pure function of the body):
        // a segment-sized MD5 under the global lock serializes parallel
        // writers server-side — measured at ~0.5 s of the parallel MPU
        // wall (the lock must only cover the conditional decision +
        // store, which is what a real bucket's linearization point is)
        val e = md5(body)
        objects.synchronized {
          putsN.incrementAndGet()
          if (failPuts > 0) { failPuts -= 1; respond(ex, 409) }
          else {
            val cur = objects.get(k)
            if (ifNone.contains("*") && cur.isDefined) respond(ex, 412)
            else if (ifMatch.isDefined && !cur.map(_._2).equals(ifMatch))
              respond(ex, 412)
            else {
              objects.put(k, (body, e, System.currentTimeMillis()))
              if (dropResponses > 0) { dropResponses -= 1; ex.close() }
              else respond(ex, 200, etag = Some(e))
            }
          }
        }
      case _ => respond(ex, 400)
    }
  } catch {
    case t: Throwable =>
      System.err.println(s"[s3lite] ${t.getMessage}")
      respond(ex, 500)
  }

  /** CompleteMultipartUpload: validate the client's part manifest
    * against the stored parts (every listed (partNumber, ETag) must
    * match, numbers strictly ascending, every non-final LISTED part
    * ≥ 5 MiB — EntityTooSmall below, as documented), then assemble the
    * object in part order. The object's ETag is the documented
    * multipart form: MD5 of the concatenated binary part-MD5s,
    * suffixed `-<partCount>`. */
  private def completeMultipart(ex: HttpExchange, key: String, id: String,
                                body: Array[Byte]): Unit = {
    val partRe =
      "(?s)<Part>.*?<PartNumber>(\\d+)</PartNumber>.*?<ETag>(.*?)</ETag>.*?</Part>".r
    val listed = partRe.findAllMatchIn(new String(body, UTF_8))
      .map(m => (m.group(1).toInt, m.group(2).replace("&quot;", "\""))).toSeq
    objects.synchronized {
      uploads.get(id) match {
        case Some((uk, parts)) if uk == key =>
          def err(code: String): Unit = respond(ex, 400,
            s"<Error><Code>$code</Code></Error>".getBytes(UTF_8))
          if (listed.isEmpty) return err("MalformedXML")
          if (listed.map(_._1) != listed.map(_._1).sorted.distinct)
            return err("InvalidPartOrder")
          // validate against the digests STORED at part-PUT time — no
          // re-hashing at complete (the real-S3 shape: part ETags were
          // fixed when the parts landed)
          listed.foreach { case (pn, etag) =>
            parts.get(pn) match {
              case Some((_, d)) if partEtagOf(d) == etag => ()
              case _ => return err("InvalidPart")
            }
          }
          // every non-final listed part must be >= 5 MiB
          listed.dropRight(1).foreach { case (pn, _) =>
            if (parts(pn)._1.length < 5 * 1024 * 1024)
              return err("EntityTooSmall")
          }
          // exact-size assembly (a doubling stream would copy ~2x the
          // object and dominate large-MPU complete time); sum as LONG —
          // an Int sum goes negative past 2 GiB and would fail a
          // future large-MPU gate with a confusing server-side
          // NegativeArraySizeException. The sim's one-byte[] ceiling
          // surfaces as a DETERMINISTIC in-band 400 (r18 review,
          // second pass: a thrown require escaped as a retryable
          // empty-body 500, so the client re-POSTed complete 4 times
          // and the explanatory message only reached stderr)
          val totalBytes = listed.map(p => parts(p._1)._1.length.toLong).sum
          if (totalBytes > Int.MaxValue.toLong)
            return err("EntityTooLarge") // sim ceiling: one byte[] per object
          val assembled = new Array[Byte](totalBytes.toInt)
          var off = 0
          listed.foreach { case (pn, _) =>
            val b = parts(pn)._1
            System.arraycopy(b, 0, assembled, off, b.length)
            off += b.length
          }
          val md = java.security.MessageDigest.getInstance("MD5")
          listed.foreach { case (pn, _) => md.update(parts(pn)._2) }
          val etag = (if (ssePartEtags) "\"sse-" else "\"") +
            md.digest().map("%02x".format(_)).mkString + s"-${listed.size}\""
          objects.put(key, (assembled, etag, System.currentTimeMillis()))
          uploads.remove(id)
          respond(ex, 200,
            ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
              "<CompleteMultipartUploadResult>" +
              s"<Key>${xmlEscape(key)}</Key><ETag>${xmlEscape(etag)}</ETag>" +
              "</CompleteMultipartUploadResult>").getBytes(UTF_8), Some(etag))
        case _ => respond(ex, 404)
      }
    }
  }

  private def qparam(query: String, name: String): Option[String] =
    query.split("&").collectFirst {
      case p if p.startsWith(s"$name=") =>
        java.net.URLDecoder.decode(p.substring(name.length + 1), UTF_8)
    }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  /** Decode the five predefined entities in client-sent key XML (the
    * DeleteObjects body — keys with `&`/`<` must round-trip). */
  private def xmlUnescapeSrv(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")

  private def list(ex: HttpExchange, query: String): Unit = {
    val prefix = qparam(query, "prefix").getOrElse("")
    val after = qparam(query, "continuation-token")
    val xml = objects.synchronized {
      val all = objects.iterator
        .filter { case (k, _) => k.startsWith(prefix) }
        .dropWhile { case (k, _) => after.exists(k <= _) }
        .toSeq
      val page = all.take(maxKeys)
      val truncated = all.size > maxKeys
      val contents = page.map { case (k, (_, _, ts)) =>
        s"<Contents><Key>${xmlEscape(k)}</Key><LastModified>" +
          java.time.Instant.ofEpochMilli(ts).toString +
          s"</LastModified></Contents>"
      }.mkString
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?><ListBucketResult>" +
        s"<IsTruncated>$truncated</IsTruncated>" +
        (if (truncated)
          s"<NextContinuationToken>${xmlEscape(page.last._1)}</NextContinuationToken>"
         else "") +
        contents + "</ListBucketResult>"
    }
    respond(ex, 200, xml.getBytes(UTF_8))
  }
}
