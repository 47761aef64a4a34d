package graft

import graft.streaming.HttpIngest
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The HTTP ingest endpoint (S1) + authorizer decision cache (C2):
  * auth matrix fail-closed, claim-derived tenant keying, atomic spool
  * publish in the stream-source wire shape, cache TTL semantics. The
  * full POST → stream → lake path is driver-gated by
  * `pipe_http_ingest`. */
class HttpIngestSpec extends SparkSpec {

  private val b64e = java.util.Base64.getUrlEncoder.withoutPadding()
  private def enc(s: String) = b64e.encodeToString(s.getBytes("UTF-8"))
  private def genPair() = {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }
  private val pair = genPair()
  private val keys = Map("k1" ->
    pair.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey])
  private def signWith(payload: String, kid: String,
                       kp: java.security.KeyPair): String = {
    val body = s"${enc(s"""{"alg":"RS256","kid":"$kid"}""")}.${enc(payload)}"
    val sig = java.security.Signature.getInstance("SHA256withRSA")
    sig.initSign(kp.getPrivate)
    sig.update(body.getBytes("UTF-8"))
    s"$body.${b64e.encodeToString(sig.sign())}"
  }
  private def sign(payload: String): String = signWith(payload, "k1", pair)

  private val client = HttpClient.newHttpClient()
  private def post(port: Int, body: String, token: Option[String]): Int = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/data"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  test("auth matrix fails closed; accepted records spool in the wire shape") {
    val now = System.currentTimeMillis() / 1000L
    val good = sign(s"""{"sub":"u","custom:tenantId":"acme","exp":"${now + 600}"}""")
    val expired = sign(s"""{"sub":"u","custom:tenantId":"acme","exp":"${now - 1}"}""")
    val noTenant = sign(s"""{"sub":"u","exp":"${now + 600}"}""")
    val tampered = { val Array(h, _, s) = good.split('.')
      s"$h.${enc(s"""{"sub":"u","custom:tenantId":"evil","exp":"${now + 600}"}""")}.$s" }
    val spool = tmpDir("http_spool")
    val server = HttpIngest.start(spool, keys)
    try {
      assert(post(server.port, """{"Data":{"event":"e1"}}""", Some(good)) == 200)
      assert(post(server.port, """{"Data":{"event":"e2"}}""", None) == 401)
      assert(post(server.port, """{"Data":{"event":"e3"}}""", Some(expired)) == 403)
      assert(post(server.port, """{"Data":{"event":"e4"}}""", Some(tampered)) == 403)
      assert(post(server.port, """{"Data":{"event":"e5"}}""", Some(noTenant)) == 403)
      assert(post(server.port, "", Some(good)) == 400)
      assert(server.accepted == 1 && server.rejected == 5)
      // the spooled envelope: raw body as `value`, tenant from the
      // VERIFIED claim as `tenant_key` — exactly the stream wire shape
      val env = spark.read
        .schema("value STRING, tenant_key STRING").json(spool).collect()
      assert(env.length == 1)
      assert(env(0).getString(0) == """{"Data":{"event":"e1"}}""")
      assert(env(0).getString(1) == "acme")
    } finally server.close()
  }

  test("a client holding its 200 reads a counter that already includes it") {
    val now = System.currentTimeMillis() / 1000L
    val token = sign(s"""{"sub":"u","custom:tenantId":"acme","exp":"${now + 600}"}""")
    val server = HttpIngest.start(tmpDir("http_count"), keys)
    try (1 to 250).foreach { i =>
      assert(post(server.port, s"r$i", Some(token)) == 200)
      assert(server.accepted == i, s"POST $i answered 200 but accepted reads ${server.accepted}")
    } finally server.close()
  }

  test("authorizer decisions cache per token and expire with the TTL") {
    @volatile var clock = 1700000000L
    val token = sign(s"""{"sub":"u","custom:tenantId":"t0","exp":"${clock + 10000}"}""")
    val bad = sign(s"""{"sub":"u","custom:tenantId":"t0","exp":"${clock - 1}"}""")
    val spool = tmpDir("http_cache")
    val server = HttpIngest.start(spool, keys, authTtlSeconds = 300L,
      now = () => clock)
    try {
      assert(post(server.port, "r1", Some(token)) == 200) // verify + cache
      assert(post(server.port, "r2", Some(token)) == 200) // cached
      assert(post(server.port, "r3", Some(token)) == 200) // cached
      assert(server.authCacheHits == 2,
        s"RSA verification must run once per token per TTL window, hits=${server.authCacheHits}")
      // denials cache too (the reference caches the policy either way)
      assert(post(server.port, "r4", Some(bad)) == 403)
      assert(post(server.port, "r5", Some(bad)) == 403)
      assert(server.authCacheHits == 3)
      // TTL expiry forces re-verification
      clock += 301L
      assert(post(server.port, "r6", Some(token)) == 200)
      assert(server.authCacheHits == 3, "an expired cache entry must not hit")
    } finally server.close()
  }

  test("JWKS file rotation: new kid verifies after reload, retired kid denies, no restart") {
    import graft.functions.{JwksFileSource, JwtVerify}
    val now = System.currentTimeMillis() / 1000L
    val oldPair = pair
    val newPair = genPair()
    def pub(p: java.security.KeyPair) =
      p.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey]
    val jwks = new java.io.File(tmpDir("jwks"), "jwks.json")
    def install(ks: Map[String, java.security.interfaces.RSAPublicKey],
                mtime: Long): Unit = {
      java.nio.file.Files.writeString(jwks.toPath, JwtVerify.toJwksJson(ks))
      // explicit mtime: two writes inside one clock tick must still
      // register as a change for the reload trigger
      assert(jwks.setLastModified(mtime))
    }
    install(Map("k1" -> pub(oldPair)), 1000000L)

    val spool = tmpDir("http_rotate")
    // ttl 0: every request re-verifies, so the matrix below observes the
    // CURRENT key set, not cached decisions (cache-vs-rotation overlap is
    // covered by the TTL test above)
    val server = HttpIngest.startWithProvider(spool, new JwksFileSource(jwks.getPath),
      authTtlSeconds = 0L)
    try {
      def tok(kid: String, kp: java.security.KeyPair, tag: String) =
        signWith(s"""{"sub":"$tag","custom:tenantId":"acme","exp":"${now + 600}"}""",
          kid, kp)
      // before rotation: k1 verifies, k2 and unknown kids deny
      assert(post(server.port, "b1", Some(tok("k1", oldPair, "a"))) == 200)
      assert(post(server.port, "b2", Some(tok("k2", newPair, "b"))) == 403)
      assert(post(server.port, "b3", Some(tok("k3", newPair, "c"))) == 403)
      // rotate: k2 replaces k1 — file rewrite + mtime bump, NO restart
      install(Map("k2" -> pub(newPair)), 2000000L)
      assert(post(server.port, "b4", Some(tok("k2", newPair, "d"))) == 200)
      assert(post(server.port, "b5", Some(tok("k1", oldPair, "e"))) == 403,
        "retired kid must deny after rotation")
      // overlap window (both kids live) — the standard rotation recipe
      install(Map("k1" -> pub(oldPair), "k2" -> pub(newPair)), 3000000L)
      assert(post(server.port, "b6", Some(tok("k1", oldPair, "f"))) == 200)
      assert(post(server.port, "b7", Some(tok("k2", newPair, "g"))) == 200)
      // malformed file → deny-all, no crash
      java.nio.file.Files.writeString(jwks.toPath, "{not json")
      assert(jwks.setLastModified(4000000L))
      assert(post(server.port, "b8", Some(tok("k2", newPair, "h"))) == 403)
    } finally server.close()
  }
}
