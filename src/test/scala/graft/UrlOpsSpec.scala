package graft

import graft.functions.{UrlOps, YqlSql}

/** Pure-kernel + raise-path pins for the Url:: tail (url_base; the
  * SQL-surface half rides the yql_fn_url_tail oracle). */
class UrlOpsSpec extends SparkSpec {

  test("normalize: docs examples + rejects") {
    assert(UrlOps.normalize("hTTp://wWw.yDb.TECH/", defaultHttp = false) ==
      "http://www.ydb.tech/")
    assert(UrlOps.normalize("http://ydb.tech#foo", defaultHttp = false) ==
      "http://ydb.tech/")
    assert(UrlOps.normalize("wWw.yDb.TECH", defaultHttp = true) ==
      "http://www.ydb.tech/")
    assert(UrlOps.normalize("not a url", defaultHttp = false) == null)
    // credentials + port + query survive, fragment dies
    assert(UrlOps.normalize("HTTPS://u:p@H.Co:8443/a/b?x=1#f",
      defaultHttp = false) == "https://u:p@h.co:8443/a/b?x=1")
  }

  test("split: full anatomy") {
    val p = UrlOps.split("https://u:p@host.com:80/p/a?q=1#fr")
    assert(p.toSeq == Seq("https", "u", "p", "host.com", "80", "/p/a",
      "q=1", "fr"))
    val bare = UrlOps.split("host.com")
    assert(bare(3) == "host.com" && bare(0).isEmpty && bare(5).isEmpty)
  }

  test("significant domain / owner") {
    assert(UrlOps.significantDomain("http://www.a.example.com/x",
      Set("com", "net", "org", "co", "gov", "edu")) == "example.com")
    assert(UrlOps.significantDomain("http://a.b.co.uk",
      Set("com", "net", "org", "co", "gov", "edu")) == "b.co.uk")
    assert(UrlOps.significantDomain("http://short.io",
      Set("co")) == "short.io")
    assert(UrlOps.owner("http://x.blogs.livejournal.com") ==
      "blogs.livejournal.com")
    assert(UrlOps.owner("http://www.example.com") == "example.com")
  }

  test("tld membership") {
    assert(UrlOps.isKnownTld("http://x.de/"))      // any ccTLD
    assert(UrlOps.isKnownTld("http://x.museum"))
    assert(!UrlOps.isKnownTld("http://x.nosuchtldzz"))
    assert(UrlOps.isWellKnownTld("http://x.org"))
    assert(!UrlOps.isWellKnownTld("http://x.museum"))
  }

  test("cut helpers") {
    assert(UrlOps.cutWww2("www2.host.com/x") == "host.com/x")
    assert(UrlOps.cutWww2("http://www777.host.com") == "http://host.com")
    assert(UrlOps.cutWww2("nowww.host.com") == "nowww.host.com")
    assert(UrlOps.cutQueryStringAndFragment("h.co/p?a=1#f") == "h.co/p")
    assert(UrlOps.cutQueryStringAndFragment("h.co/p#f?late") == "h.co/p")
    assert(UrlOps.cutQueryStringAndFragment("h.co/p") == "h.co/p")
  }

  test("punycode family (docs example)") {
    assert(UrlOps.punycodeToHost("xn--80aniges7g.xn--j1aef") ==
      "экзампл.ком")
    val puny = UrlOps.hostToPunycode("пример.испытание")
    assert(puny == "xn--e1afmkfd.xn--80akhbyknj4f")
    assert(UrlOps.punycodeToHost(puny) == "пример.испытание")
    assert(UrlOps.forcePunycodeToHost("plain.com") == "plain.com")
    assert(UrlOps.canBePunycodeHostName("xn--e1afmkfd.com"))
    assert(!UrlOps.canBePunycodeHostName("plain.com"))
  }

  test("IsAllowedByRobotsTxt raises naming the gap") {
    YqlSql.registerAll(spark)
    val e = intercept[Exception] {
      YqlSql.sql(spark,
        "SELECT Url::IsAllowedByRobotsTxt('http://a.com/x') AS v")
        .collect()
    }
    assert(e.getMessage.contains("robots"))
  }
}
