package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.functions.JwtVerify
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.interfaces.RSAPublicKey
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** S1 — the HTTP ingest endpoint (reference:
  * `multi-tenant-apigateway-stack.ts:89-140`: API Gateway `POST /data` →
  * Lambda token authorizer → Kinesis `putRecord`), re-expressed
  * Spark-native and offline:
  *
  *  - a thin JDK `HttpServer` (no dependencies, loopback-bound) accepts
  *    `POST /data` with an `Authorization: Bearer <jwt>` header;
  *  - C1/C2: the token is verified OFFLINE (`JwtVerify` — kid lookup,
  *    RS256, structural exp) and the DECISION IS CACHED with a TTL —
  *    the analog of API Gateway's authorizer-result cache: the RSA
  *    check runs once per token per TTL window, not once per request.
  *    Denials cache too (the reference caches the policy either way).
  *    Tenant comes from the verified token's `custom:tenantId` claim —
  *    server-side keying (C3), never from the payload;
  *  - the accepted record is spooled as one atomically-published
  *    ND-JSON envelope file `{"value": <raw body>, "tenant_key": t}` —
  *    exactly the wire shape `StreamingIngest.start/startTransactional`
  *    reads (`readStream.json(spoolDir)`), so delivery into the lake
  *    rides the existing exactly-once path. The spool IS the Kinesis
  *    decoupling: producers see 200 when the record is durable in the
  *    spool; the stream tails it at its own trigger cadence.
  *
  * Scale shape: the endpoint is a stateless single-node frontend —
  * run N of them behind any TCP balancer, all spooling to shared
  * storage; the stream source globs one directory regardless. One file
  * per record is the `putRecord` analog and keeps publish atomic
  * (tmp + rename); the 60 s buffered sink downstream (writeValid /
  * TransactionalLake) is what bins small inputs into real files, same
  * as Firehose behind Kinesis. Responses: 200 accepted, 400 empty
  * body, 401 no credentials, 403 verification failed, 404/405
  * elsewhere. Fail-closed everywhere.
  */
object HttpIngest {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** allow/tenant decision with its cache deadline (epoch seconds). */
  private final case class AuthEntry(allow: Boolean, tenant: String, until: Long)

  /** Running endpoint handle. Counters are for tests/monitoring. */
  final class Server private[HttpIngest] (srv: HttpServer, val spoolDir: String)
      extends AutoCloseable {
    def port: Int = srv.getAddress.getPort
    private[HttpIngest] val acceptedN = new AtomicLong
    private[HttpIngest] val rejectedN = new AtomicLong
    private[HttpIngest] val authHitsN = new AtomicLong
    def accepted: Long = acceptedN.get
    def rejected: Long = rejectedN.get
    /** requests served from the cached authorizer decision */
    def authCacheHits: Long = authHitsN.get
    override def close(): Unit = srv.stop(0)
  }

  /** Start the endpoint on `port` (0 = ephemeral), verifying against the
    * supplied JWKS-shaped key map. `authTtlSeconds` mirrors API
    * Gateway's authorizer-cache TTL (300 s default there); a token's
    * decision never outlives its own `exp`. `now` is injectable for
    * deterministic tests. */
  def start(spoolDir: String, keys: Map[String, RSAPublicKey], port: Int = 0,
            authTtlSeconds: Long = 300L, maxCacheEntries: Int = 100000,
            now: () => Long = () => System.currentTimeMillis() / 1000L): Server =
    startWithProvider(spoolDir, () => keys, port, authTtlSeconds,
      maxCacheEntries, now)

  /** [[start]] with a key PROVIDER instead of a fixed map — pass a
    * `graft.functions.JwksFileSource` for mtime-triggered key rotation
    * without a restart (the provider is consulted on each cache-miss
    * verification, so a rotated key set takes effect at the next
    * uncached token; already-cached decisions live out their TTL, the
    * same window API Gateway's authorizer cache allows). */
  def startWithProvider(spoolDir: String,
            keyProvider: () => Map[String, RSAPublicKey], port: Int = 0,
            authTtlSeconds: Long = 300L, maxCacheEntries: Int = 100000,
            now: () => Long = () => System.currentTimeMillis() / 1000L): Server = {
    Files.createDirectories(Paths.get(spoolDir))
    // small-exchange latency: without TCP_NODELAY the per-request cost is
    // a Nagle/delayed-ACK stall (~40 ms) — three orders of magnitude over
    // the actual work. Must be set before the server is created.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val srv = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    srv.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-http-ingest")
      t.setDaemon(true)
      t
    }))
    val server = new Server(srv, spoolDir)
    val cache = new ConcurrentHashMap[String, AuthEntry]()
    val seq = new AtomicLong()

    def decide(token: String): AuthEntry = {
      val t = now()
      // unbounded growth guard (token-spray abuse): reset rather than
      // LRU — a full clear costs one re-verification per live token
      if (cache.size() >= maxCacheEntries) cache.clear()
      // single-flight per token: compute() holds the key's bin lock, so
      // concurrent requests with one token run the RSA check ONCE and
      // the rest read the fresh entry — no thundering herd on a hot
      // producer token (and the once-per-TTL-window contract stays
      // exact, which the driver gate asserts)
      cache.compute(token, (_, cached) =>
        if (cached != null && cached.until > t) {
          server.authHitsN.incrementAndGet()
          cached
        } else {
          val allow = JwtVerify.authorize(token, keyProvider(), t)
          val tenant = if (allow) JwtVerify.tenantClaim(token).getOrElse("") else ""
          AuthEntry(allow && tenant.nonEmpty, tenant, t + authTtlSeconds)
        })
    }

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      // counted before the body goes out: a client holding the full
      // response reads a counter that already includes it (an accepted
      // record is spooled by then). After sendResponseHeaders, so the
      // 500 fallback for a failed body write counts nothing twice.
      if (code == 200) server.acceptedN.incrementAndGet()
      else server.rejectedN.incrementAndGet()
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }

    srv.createContext("/data", (ex: HttpExchange) =>
      try {
        if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"method"}""")
        else {
          val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
          auth.map(_.replaceFirst("^Bearer ", "")) match {
            case None => respond(ex, 401, """{"error":"missing credentials"}""")
            case Some(token) =>
              val d = decide(token)
              if (!d.allow) respond(ex, 403, """{"error":"forbidden"}""")
              else {
                val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
                if (body.isEmpty) respond(ex, 400, """{"error":"empty body"}""")
                else {
                  val env = mapper.createObjectNode()
                  env.put("value", body)
                  env.put("tenant_key", d.tenant)
                  publish(Paths.get(spoolDir),
                    mapper.writeValueAsString(env) + "\n", seq.incrementAndGet())
                  respond(ex, 200, """{"ok":true}""")
                }
              }
          }
        }
      } catch {
        case _: Exception =>
          try respond(ex, 500, """{"error":"internal"}""") catch { case _: Exception => }
      } finally ex.close())
    srv.start()
    server
  }

  /** Atomic single-record publish: write outside the glob, move in. A
    * tailing file stream never sees a half-written envelope. */
  private def publish(dir: Path, line: String, n: Long): Unit = {
    val tmp = dir.resolve(s".tmp-$n")
    Files.write(tmp, line.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(s"ingest-$n.json"),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
