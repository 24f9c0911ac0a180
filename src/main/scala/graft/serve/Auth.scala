package graft.serve

import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.jdk.CollectionConverters._

/** Authenticated principal with OAuth-style scopes (reference:
  * api-service/src/auth.py:103-120 — space-separated `scope` claim,
  * `read:analytics` for /query, `read:schema` for /schema).
  */
final case class Principal(subject: String, scopes: Set[String]) {
  def hasScope(s: String): Boolean = scopes.contains(s)
}

/** Serving-layer authentication boundary (reference V3: Auth0 RS256
  * JWKS, api-service/src/auth.py:17-100). RsaJwksAuthenticator is the
  * one verifier; NoAuth stands in for it in tests and open dev runs.
  */
trait Authenticator {
  /** Returns the principal or a failure message (→ HTTP 401). */
  def authenticate(authorizationHeader: Option[String]): Either[String, Principal]
}

/** Everyone is `anonymous` with the given scopes (test/dev default). */
final class NoAuth(scopes: Set[String] = Set("read:analytics", "read:schema"))
    extends Authenticator {
  def authenticate(h: Option[String]): Either[String, Principal] =
    Right(Principal("anonymous", scopes))
}

/** RS256 JWT verification against a JWKS document — the reference's
  * Auth0 contract (api-service/src/auth.py:17-100: fetch JWKS on first
  * use, cache it, look the token's `kid` up in `keys`, pin the
  * algorithm to RS256, then verify exp/aud/iss) with the outbound
  * HTTPS fetch generalized to an operator-supplied `jwksSource`
  * thunk — a file read in the zero-egress deployment — so the
  * asymmetric path needs no network. The cache-and-refresh shape is
  * preserved: the source is read once up front, and an unknown `kid`
  * triggers a re-read (key rotation) throttled by `reloadCooldownS`
  * so a flood of bad-kid tokens cannot hammer the source. A failed or
  * unparsable reload keeps the previous key set. Key confusion is
  * rejected twice: the header `alg` must be RS256 (never read from
  * attacker input beyond the comparison), and only RSA keys are
  * loaded from the JWKS.
  */
final class RsaJwksAuthenticator(jwksSource: () => String, audience: String,
                                 issuer: String,
                                 clock: () => Long = () => System.currentTimeMillis() / 1000,
                                 reloadCooldownS: Long = 60)
    extends Authenticator {

  /** Static-document form (no rotation possible — reload is a no-op
    * re-parse of the same string, so unknown kids just stay unknown).
    */
  def this(jwksJson: String, audience: String, issuer: String,
           clock: () => Long) =
    this(() => jwksJson, audience, issuer, clock)
  def this(jwksJson: String, audience: String, issuer: String) =
    this(() => jwksJson, audience, issuer)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** kid → RSA public key, from JWKS `keys[]` entries (kty=RSA, n, e). */
  private def parseKeys(jwksJson: String): Map[String, java.security.PublicKey] = {
    val root = mapper.readTree(jwksJson)
    val kf = java.security.KeyFactory.getInstance("RSA")
    val it = root.path("keys").elements()
    val b = Map.newBuilder[String, java.security.PublicKey]
    while (it.hasNext) {
      val k = it.next()
      if (k.path("kty").asText() == "RSA" && k.has("kid")) {
        val n = new java.math.BigInteger(1,
          Base64.getUrlDecoder.decode(k.get("n").asText()))
        val e = new java.math.BigInteger(1,
          Base64.getUrlDecoder.decode(k.get("e").asText()))
        b += k.get("kid").asText() -> kf.generatePublic(
          new java.security.spec.RSAPublicKeySpec(n, e))
      }
    }
    b.result()
  }

  @volatile private var keys: Map[String, java.security.PublicKey] =
    parseKeys(jwksSource())
  private var lastReloadS: Option[Long] = None

  /** Cached lookup; on miss, re-reads the JWKS source (rotation) at
    * most once per cooldown window. Synchronized so concurrent misses
    * collapse into one source read.
    */
  private def keyFor(kid: String): Option[java.security.PublicKey] =
    keys.get(kid).orElse(synchronized {
      keys.get(kid).orElse {
        val now = clock()
        if (lastReloadS.forall(t => now - t >= reloadCooldownS)) {
          lastReloadS = Some(now)
          try keys = parseKeys(jwksSource())
          catch { case _: Exception => () } // keep the previous key set
        }
        keys.get(kid)
      }
    })

  def authenticate(h: Option[String]): Either[String, Principal] = h match {
    case Some(v) if v.startsWith("Bearer ") =>
      v.substring(7).trim.split('.') match {
        case Array(h64, p64, s64) =>
          val header = try mapper.readTree(Base64.getUrlDecoder.decode(h64))
          catch { case _: Exception => return Left("Malformed token") }
          // alg pin BEFORE key lookup: an HS256 token must never reach
          // a code path holding key material (alg-confusion downgrade)
          if (header.path("alg").asText() != "RS256")
            return Left("Unsupported algorithm")
          val kid = header.path("kid").asText("")
          val key = keyFor(kid).getOrElse(return Left("Unknown key id"))
          val sig = try Base64.getUrlDecoder.decode(s64)
          catch { case _: Exception => return Left("Malformed token") }
          val verifier = java.security.Signature.getInstance("SHA256withRSA")
          verifier.initVerify(key)
          verifier.update(s"$h64.$p64".getBytes(StandardCharsets.US_ASCII))
          if (!(try verifier.verify(sig)
          catch { case _: Exception => false }))
            return Left("Invalid token signature")
          val claims = try mapper.readTree(Base64.getUrlDecoder.decode(p64))
          catch { case _: Exception => return Left("Malformed token") }
          validate(claims)
        case _ => Left("Malformed token")
      }
    case _ => Left("Missing bearer token")
  }

  /** The reference's claim contract (auth.py:52-100): exp against the
    * clock, exact aud and iss, scopes split from the space-separated
    * `scope` claim.
    */
  private def validate(
      claims: com.fasterxml.jackson.databind.JsonNode): Either[String, Principal] = {
    if (claims.has("exp") && claims.get("exp").asLong() < clock())
      return Left("Token expired")
    // aud may be a string OR an array (Auth0 issues both — e.g. the API
    // audience plus /userinfo); either form must accept when it
    // contains the expected audience
    val aud = claims.path("aud")
    val audOk =
      if (aud.isArray) aud.elements().asScala.exists(_.asText() == audience)
      else aud.asText() == audience
    if (!audOk)
      return Left("Invalid audience")
    if (claims.path("iss").asText() != issuer)
      return Left("Invalid issuer")
    val scopes = claims.path("scope").asText("")
      .split(' ').filter(_.nonEmpty).toSet
    Right(Principal(claims.path("sub").asText("unknown"), scopes))
  }
}

/** `jwksSource` implementations for [[RsaJwksAuthenticator]]. The
  * authenticator's cache-and-cooldown layer handles staleness, so a
  * source is just "fetch the JWKS document text now".
  */
object JwksSources {

  /** Outbound HTTPS fetch — the reference's literal Auth0 contract
    * (api-service/src/auth.py:27-33: GET the tenant's
    * `/.well-known/jwks.json`). Built on the JDK HttpClient, no
    * dependencies; a non-2xx response throws, which the
    * authenticator's reload path treats as "keep the previous keys".
    * Never exercised in tests (the build is hermetic/zero-egress) —
    * deployments opt in via ServeMain's AUTH_JWKS_URL.
    */
  def https(url: String, timeoutS: Long = 10): () => String = {
    // signing keys must never travel plaintext: a MITM on an http://
    // JWKS URL could substitute its own keys and mint valid tokens.
    // The reference always constructs an https:// URL (auth.py:27).
    val scheme = java.net.URI.create(url).getScheme
    require(scheme == "https",
      s"JWKS URL must use https (got scheme '$scheme' in $url)")
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(timeoutS))
      .build()
    () => {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(timeoutS))
        .GET().build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        throw new java.io.IOException(
          s"JWKS fetch failed: HTTP ${resp.statusCode()} from $url")
      resp.body()
    }
  }

  /** File-based source — the zero-egress deployment (rotation =
    * rewrite the file; see ServeMain AUTH_JWKS_FILE).
    */
  def file(path: String): () => String =
    () => java.nio.file.Files.readString(java.nio.file.Paths.get(path))
}

object RsaJwksAuthenticator {
  import java.security.interfaces.RSAPublicKey

  /** JWKS JSON for a set of (kid, publicKey) — test/tooling helper. */
  def jwks(entries: Seq[(String, RSAPublicKey)]): String = {
    val enc = Base64.getUrlEncoder.withoutPadding
    def b64(i: java.math.BigInteger) = enc.encodeToString(i.toByteArray match {
      case a if a.length > 1 && a(0) == 0 => a.drop(1) // strip sign byte
      case a => a
    })
    entries.map { case (kid, k) =>
      s"""{"kty":"RSA","use":"sig","alg":"RS256","kid":"$kid",""" +
        s""""n":"${b64(k.getModulus)}","e":"${b64(k.getPublicExponent)}"}"""
    }.mkString("""{"keys":[""", ",", "]}")
  }

  /** RS256 token minting for tests (not a serving concern). */
  def mint(priv: java.security.PrivateKey, kid: String, audience: String,
           issuer: String, subject: String, scopes: Seq[String],
           expEpochS: Long): String = {
    val enc = Base64.getUrlEncoder.withoutPadding
    def b64(s: String) = enc.encodeToString(s.getBytes(StandardCharsets.UTF_8))
    val header = b64(s"""{"alg":"RS256","typ":"JWT","kid":"$kid"}""")
    val payload = b64(
      s"""{"sub":"$subject","aud":"$audience","iss":"$issuer",""" +
        s""""scope":"${scopes.mkString(" ")}","exp":$expEpochS}""")
    val signer = java.security.Signature.getInstance("SHA256withRSA")
    signer.initSign(priv)
    signer.update(s"$header.$payload".getBytes(StandardCharsets.US_ASCII))
    s"$header.$payload.${enc.encodeToString(signer.sign())}"
  }
}
