package graft.ads

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class AdsConfigSpec extends AnyFunSuite {

  test("file config round-trips and updates keys") {
    val path = s"${Files.createTempDirectory("graft-ads-config")}/secrets.properties"
    val cfg = new FileConfig(path)
    assert(cfg.get("fb_access_token").isEmpty)
    TokenState.persist(cfg, TokenState("tok1", 1000L))
    assert(TokenState.from(cfg).contains(TokenState("tok1", 1000L)))
    TokenState.persist(cfg, TokenState("tok2", 2000L)) // write-back on refresh
    assert(TokenState.from(cfg).contains(TokenState("tok2", 2000L)))
  }

  test("refresh threshold mirrors the reference's 7-day rule") {
    val st = TokenState("t", expiresAtEpochSec = 100 * 86400L)
    assert(!st.needsRefresh(nowEpochSec = 90 * 86400L))  // 10 days out
    assert(st.needsRefresh(nowEpochSec = 94 * 86400L))   // 6 days out
  }

  test("env config is read-only") {
    val cfg = new EnvConfig()
    assertThrows[UnsupportedOperationException](cfg.set("k", "v"))
  }

  // ── token refresh state machine (reference main.py:159-255) ──────────────

  private class MemConfig(init: Map[String, String]) extends ConfigProvider {
    var data: Map[String, String] = init
    override def get(key: String): Option[String] = data.get(key)
    override def set(key: String, value: String): Unit = data += key -> value
  }

  private val DAY = 86400L
  private val now = 1000 * DAY

  private def cfgWith(expiresAt: Long): MemConfig = new MemConfig(Map(
    "fb_app_id" -> "app", "fb_app_secret" -> "sec",
    "fb_access_token" -> "cur", "fb_token_expires_at" -> expiresAt.toString))

  /** Scripted endpoint: validity/expiry per token, optional exchange result. */
  private class FakeEndpoint(
      valid: Map[String, Long], exchange: Option[TokenState],
      var calls: List[String] = Nil) extends TokenEndpoint {
    override def debugToken(t: String, a: String, s: String): TokenInfo = {
      calls :+= s"debug:$t"
      valid.get(t).map(e => TokenInfo(isValid = true, e))
        .getOrElse(TokenInfo(isValid = false, 0, Some("invalid")))
    }
    override def exchangeToken(t: String, a: String, s: String): TokenState = {
      calls :+= s"exchange:$t"
      exchange.getOrElse(throw new RuntimeException("exchange unavailable"))
    }
  }

  test("env override short-circuits the whole flow") {
    val ep = new FakeEndpoint(Map.empty, None)
    val d = TokenManager.getValidToken(cfgWith(0), ep, now, envToken = Some("envtok"))
    assert(d == TokenDecision("envtok", "env_override") && ep.calls.isEmpty)
  }

  test("never-expiring system token is used as-is") {
    val ep = new FakeEndpoint(Map("cur" -> 0L), None)
    val d = TokenManager.getValidToken(cfgWith(0), ep, now)
    assert(d == TokenDecision("cur", "never_expires"))
  }

  test("fresh token (outside the 7-day window) is not refreshed") {
    val ep = new FakeEndpoint(Map("cur" -> (now + 30 * DAY)), None)
    val d = TokenManager.getValidToken(cfgWith(now + 30 * DAY), ep, now)
    assert(d == TokenDecision("cur", "current"))
    assert(!ep.calls.exists(_.startsWith("exchange")))
  }

  test("expiring token: exchange, verify, persist token + metadata") {
    val cfg = cfgWith(now + 5 * DAY)
    val ep = new FakeEndpoint(
      Map("cur" -> (now + 5 * DAY), "new" -> (now + 60 * DAY)),
      Some(TokenState("new", now + 60 * DAY)))
    val d = TokenManager.getValidToken(cfg, ep, now)
    assert(d == TokenDecision("new", "refreshed"))
    assert(ep.calls == List("debug:cur", "exchange:cur", "debug:new"))
    assert(TokenState.from(cfg).contains(TokenState("new", now + 60 * DAY)))
    assert(cfg.get("fb_token_metadata").exists(_.contains(s""""refreshed_at": $now""")))
  }

  test("failed refresh falls back to the current token while it lives") {
    val ep = new FakeEndpoint(Map("cur" -> (now + 5 * DAY)), None) // exchange throws
    val d = TokenManager.getValidToken(cfgWith(now + 5 * DAY), ep, now)
    assert(d.token == "cur" && d.action.startsWith("refresh_failed_still_valid"))
  }

  test("a refresh that verifies invalid counts as a failed refresh") {
    val ep = new FakeEndpoint(
      Map("cur" -> (now + 5 * DAY)), // "new" absent → verify says invalid
      Some(TokenState("new", now + 60 * DAY)))
    val d = TokenManager.getValidToken(cfgWith(now + 5 * DAY), ep, now)
    assert(d.token == "cur" && d.action.startsWith("refresh_failed_still_valid"))
  }

  test("failed refresh of an expired token is fatal") {
    val ep = new FakeEndpoint(Map("cur" -> (now - 1 * DAY)), None)
    val e = intercept[IllegalStateException] {
      TokenManager.getValidToken(cfgWith(now - 1 * DAY), ep, now)
    }
    assert(e.getMessage.contains("current token is expired"))
  }

  test("invalid current token is fatal with guidance") {
    val ep = new FakeEndpoint(Map.empty, None)
    val e = intercept[IllegalStateException] {
      TokenManager.getValidToken(cfgWith(0), ep, now)
    }
    assert(e.getMessage.contains("token is invalid"))
  }
}
