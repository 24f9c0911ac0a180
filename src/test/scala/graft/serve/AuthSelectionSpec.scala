package graft.serve

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** ServeMain's choice of verifier from the environment. */
class AuthSelectionSpec extends AnyFunSuite {

  private lazy val jwksFile = {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    val pub = g.generateKeyPair().getPublic
      .asInstanceOf[java.security.interfaces.RSAPublicKey]
    val f = Files.createTempFile("graft-jwks", ".json")
    Files.writeString(f, RsaJwksAuthenticator.jwks(Seq("k1" -> pub)))
    f.toString
  }

  test("AUTH_SECRET refuses to boot and names AUTH_JWKS_FILE") {
    val e = intercept[IllegalArgumentException](
      ServeMain.authenticator(Map("AUTH_SECRET" -> "s3cret")))
    assert(e.getMessage.contains("AUTH_JWKS_FILE"), e.getMessage)
    // a JWKS source beside it does not rescue the retired knob
    intercept[IllegalArgumentException](ServeMain.authenticator(
      Map("AUTH_SECRET" -> "s3cret", "AUTH_JWKS_FILE" -> jwksFile)))
  }

  test("AUTH_JWKS_FILE selects the RS256/JWKS verifier") {
    assert(ServeMain.authenticator(Map("AUTH_JWKS_FILE" -> jwksFile))
      .isInstanceOf[RsaJwksAuthenticator])
  }

  test("an http:// AUTH_JWKS_URL is rejected") {
    val e = intercept[IllegalArgumentException](ServeMain.authenticator(
      Map("AUTH_JWKS_URL" -> "http://tenant.example/.well-known/jwks.json")))
    assert(e.getMessage.contains("https"), e.getMessage)
  }

  test("nothing set serves open") {
    assert(ServeMain.authenticator(Map.empty).isInstanceOf[NoAuth])
  }
}
