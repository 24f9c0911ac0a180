package graft.serve

import org.scalatest.funsuite.AnyFunSuite

/** RS256/JWKS verification — the reference's Auth0 contract
  * (api-service/src/auth.py:17-100): kid lookup in the JWKS, algorithm
  * pinned to RS256, exp/aud/iss claim checks.
  */
class AuthSpec extends AnyFunSuite {

  private val (kp, kp2) = {
    val gen = java.security.KeyPairGenerator.getInstance("RSA")
    gen.initialize(2048)
    (gen.generateKeyPair(), gen.generateKeyPair())
  }
  private def pub(k: java.security.KeyPair) =
    k.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey]

  private val jwks = RsaJwksAuthenticator.jwks(Seq("key-1" -> pub(kp)))
  private val now = 1700000000L
  private val auth = new RsaJwksAuthenticator(jwks, "aud-x", "iss-y",
    clock = () => now)

  private def token(kid: String = "key-1", aud: String = "aud-x",
                    iss: String = "iss-y", exp: Long = now + 600,
                    priv: java.security.PrivateKey = kp.getPrivate) =
    RsaJwksAuthenticator.mint(priv, kid, aud, iss, "alice",
      Seq("read:analytics", "read:schema"), exp)

  test("valid RS256 token → principal with scopes") {
    val r = auth.authenticate(Some(s"Bearer ${token()}"))
    assert(r == Right(Principal("alice", Set("read:analytics", "read:schema"))))
  }

  test("wrong kid is rejected before any verification") {
    assert(auth.authenticate(Some(s"Bearer ${token(kid = "key-9")}"))
      == Left("Unknown key id"))
  }

  test("signature from a different key is rejected") {
    // kid says key-1 but the signature came from another keypair
    assert(auth.authenticate(
      Some(s"Bearer ${token(priv = kp2.getPrivate)}"))
      == Left("Invalid token signature"))
  }

  test("alg confusion: an HS256 token never reaches RSA verification") {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding
    def b64(s: String) = enc.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec("secret".getBytes, "HmacSHA256"))
    val h = b64("""{"alg":"HS256","typ":"JWT","kid":"key-1"}""")
    val p = b64(s"""{"sub":"mallory","aud":"aud-x","iss":"iss-y",""" +
      s""""scope":"read:analytics","exp":${now + 600}}""")
    val hs = s"$h.$p." + enc.encodeToString(mac.doFinal(
      s"$h.$p".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
    assert(auth.authenticate(Some(s"Bearer $hs"))
      == Left("Unsupported algorithm"))
  }

  test("array-valued aud accepts when it contains the audience") {
    // Auth0 issues aud as an array (API audience + /userinfo)
    def rawMint(payload: String): String = {
      val enc = java.util.Base64.getUrlEncoder.withoutPadding
      def b64(s: String) = enc.encodeToString(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val h = b64("""{"alg":"RS256","typ":"JWT","kid":"key-1"}""")
      val p = b64(payload)
      val signer = java.security.Signature.getInstance("SHA256withRSA")
      signer.initSign(kp.getPrivate)
      signer.update(s"$h.$p".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      s"$h.$p.${enc.encodeToString(signer.sign())}"
    }
    val good = rawMint(
      s"""{"sub":"alice","aud":["aud-x","https://other/userinfo"],""" +
        s""""iss":"iss-y","scope":"read:schema","exp":${now + 600}}""")
    assert(auth.authenticate(Some(s"Bearer $good"))
      == Right(Principal("alice", Set("read:schema"))))
    val bad = rawMint(
      s"""{"sub":"alice","aud":["other-1","other-2"],""" +
        s""""iss":"iss-y","scope":"read:schema","exp":${now + 600}}""")
    assert(auth.authenticate(Some(s"Bearer $bad")) == Left("Invalid audience"))
  }

  test("expired / wrong audience / wrong issuer / missing header") {
    assert(auth.authenticate(Some(s"Bearer ${token(exp = now - 1)}"))
      == Left("Token expired"))
    assert(auth.authenticate(Some(s"Bearer ${token(aud = "other")}"))
      == Left("Invalid audience"))
    assert(auth.authenticate(Some(s"Bearer ${token(iss = "other")}"))
      == Left("Invalid issuer"))
    assert(auth.authenticate(None) == Left("Missing bearer token"))
    assert(auth.authenticate(Some("Bearer not.a.jwt")).isLeft)
    assert(auth.authenticate(Some("Bearer abc")).isLeft)
  }

  test("key rotation: unknown kid triggers a throttled JWKS reload") {
    // fetch-and-cache contract (reference auth.py:27-33) without egress:
    // the source is a thunk; rotation = the thunk returning a new doc
    var doc = RsaJwksAuthenticator.jwks(Seq("key-1" -> pub(kp)))
    var reads = 0
    var t = now
    val a = new RsaJwksAuthenticator(() => { reads += 1; doc },
      "aud-x", "iss-y", clock = () => t, reloadCooldownS = 60)
    assert(reads == 1) // initial load
    val rotated = token(kid = "key-2", priv = kp2.getPrivate)

    // unknown kid while the doc hasn't rotated: reload happens, still 401
    assert(a.authenticate(Some(s"Bearer $rotated")) == Left("Unknown key id"))
    assert(reads == 2)

    // doc rotates, but inside the cooldown window: NO reload, still 401
    doc = RsaJwksAuthenticator.jwks(
      Seq("key-1" -> pub(kp), "key-2" -> pub(kp2)))
    t += 30
    assert(a.authenticate(Some(s"Bearer $rotated")) == Left("Unknown key id"))
    assert(reads == 2)

    // past the cooldown: reload picks up the rotated doc, token verifies
    t += 31
    assert(a.authenticate(Some(s"Bearer $rotated"))
      == Right(Principal("alice", Set("read:analytics", "read:schema"))))
    assert(reads == 3)

    // cached known kids never touch the source
    assert(a.authenticate(Some(s"Bearer ${token()}")).isRight)
    assert(reads == 3)
  }

  test("a failed JWKS reload keeps the previous key set") {
    var broken = false
    val good = RsaJwksAuthenticator.jwks(Seq("key-1" -> pub(kp)))
    var t = now
    val a = new RsaJwksAuthenticator(
      () => if (broken) sys.error("source down") else good,
      "aud-x", "iss-y", clock = () => t, reloadCooldownS = 60)
    broken = true
    // unknown kid → reload attempt fails → still serving with old keys
    assert(a.authenticate(Some(s"Bearer ${token(kid = "key-9")}"))
      == Left("Unknown key id"))
    assert(a.authenticate(Some(s"Bearer ${token()}")).isRight)
  }

  test("JWKS https source rejects plaintext URLs") {
    // http:// would let a MITM substitute signing keys — refuse loudly
    val e = intercept[IllegalArgumentException](
      JwksSources.https("http://tenant.example/.well-known/jwks.json"))
    assert(e.getMessage.contains("https"))
    // building the fetcher for an https URL is fine (no fetch happens)
    JwksSources.https("https://tenant.example/.well-known/jwks.json")
  }
}
