package graft.serve

import java.security.KeyPairGenerator
import java.security.interfaces.RSAPublicKey
import java.time.Instant

/** One generated RS256 key pair per instance: the JWKS verifier that
  * trusts it and bearer tokens signed with it.
  */
final class TestSigner(audience: String = "graft-api",
                       issuer: String = "graft-test") {
  private val keys = {
    val g = KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }

  val auth = new RsaJwksAuthenticator(
    RsaJwksAuthenticator.jwks(Seq(
      "test-key" -> keys.getPublic.asInstanceOf[RSAPublicKey])),
    audience, issuer)

  def token(subject: String, scopes: Seq[String],
            expEpochS: Long = Instant.now().getEpochSecond + 3600,
            aud: String = audience): String =
    RsaJwksAuthenticator.mint(keys.getPrivate, "test-key", aud, issuer,
      subject, scopes, expEpochS)
}
