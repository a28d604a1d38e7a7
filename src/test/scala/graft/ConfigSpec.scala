package graft

import graft.io.{JdbcOptions, JdbcSource, JsonArraySource, ParquetSource}
import org.scalatest.funsuite.AnyFunSuite

/** Multi-tenant config parsing (SURVEY.md §2 O1/O20) and JDBC option
  * assembly (O4).
  */
class ConfigSpec extends AnyFunSuite {

  private val twoTenants =
    """{
      |  "configs": {
      |    "tenant_b": {
      |      "source":      { "type": "json",    "path": "/data/b/in.json" },
      |      "secondary":   { "type": "jdbc",
      |                       "url": "jdbc:mysql://db.example:3306/bdb",
      |                       "dbtable": "b_data", "user": "u", "password": "p" },
      |      "destination": { "dir": "/data/b/out" }
      |    },
      |    "tenant_a": {
      |      "source":      { "type": "json",    "path": "/data/a/in.json" },
      |      "secondary":   { "type": "parquet", "path": "/data/a/db.parquet" },
      |      "destination": { "dir": "/data/a/out", "file": "a.csv" },
      |      "key": "customer_id"
      |    }
      |  }
      |}""".stripMargin

  /** Every tenant of `json`, each asserted to parse. */
  private def valid(json: String,
      secrets: graft.io.SecretsProvider = graft.io.NoSecretsProvider) =
    Config.parseTenants(json, secrets).map { t =>
      assert(t.isRight, s"expected a valid tenant, got $t")
      t.toOption.get
    }

  /** The one tenant of `json`, asserted to fail; its error message. */
  private def invalid(json: String,
      secrets: graft.io.SecretsProvider = graft.io.NoSecretsProvider): String =
    Config.parseTenants(json, secrets) match {
      case Seq(Left((_, msg))) => msg
      case other => fail(s"expected one invalid tenant, got $other")
    }

  test("parses every tenant deterministically (sorted by name)") {
    val ts = valid(twoTenants)
    assert(ts.map(_.name) === Seq("tenant_a", "tenant_b"))
    val a = ts.head
    assert(a.primary === JsonArraySource("/data/a/in.json"))
    assert(a.secondary === ParquetSource("/data/a/db.parquet"))
    assert(a.key === "customer_id")
    assert(a.destDir === "/data/a/out" && a.destFile === "a.csv")
    val b = ts(1)
    assert(b.key === "id")              // default
    assert(b.destFile === "merged.csv") // default
    b.secondary match {
      case JdbcSource(o) =>
        assert(o.url === "jdbc:mysql://db.example:3306/bdb")
        assert(o.dbtable === "b_data")
        assert(o.driver === "org.mariadb.jdbc.Driver") // reference default
      case other => fail(s"expected JdbcSource, got $other")
    }
  }

  test("webhook config selects HttpNotifier; absence selects stdout") {
    val withHook =
      """{"configs": {"t": {
        |  "source":      { "type": "json",    "path": "/d/in.json" },
        |  "secondary":   { "type": "parquet", "path": "/d/db.parquet" },
        |  "destination": { "dir": "/d/out" },
        |  "webhook":     "http://127.0.0.1:9/hook"
        |}}}""".stripMargin
    val default = new RecordingNotifier
    val t = valid(withHook).head
    assert(t.webhook === Some("http://127.0.0.1:9/hook"))
    assert(t.notifier(default).isInstanceOf[HttpNotifier])
    // no webhook -> the caller's default instance, untouched
    val plain = valid(twoTenants).head
    assert(plain.webhook === None)
    assert(plain.notifier(default) eq default)
  }

  test("each tenant resolves to a runnable pipeline spec") {
    val specs = valid(twoTenants).map(_.toSpec)
    assert(specs.map(_.destDir) === Seq("/data/a/out", "/data/b/out"))
    assert(specs.head.key === "customer_id")
  }

  test("missing required fields fail with the field named") {
    val e = invalid(
      """{"configs": {"t": {
        |  "source": {"type": "json"},
        |  "secondary": {"type": "parquet", "path": "/y"},
        |  "destination": {"dir": "/z"}}}}""".stripMargin)
    assert(e.contains("'path'"))
    // no tenant can be isolated without the root object: the whole file fails
    val e2 = intercept[IllegalArgumentException] {
      Config.parseTenants("""{"noconfigs": {}}""")
    }
    assert(e2.getMessage.contains("'configs'"))
  }

  test("unknown source type is rejected") {
    val e = invalid(
      """{"configs": {"t": {
        |  "source": {"type": "avro", "path": "/x"},
        |  "secondary": {"type": "parquet", "path": "/y"},
        |  "destination": {"dir": "/z"}}}}""".stripMargin)
    assert(e.contains("unknown source type 'avro'"))
  }

  test("secret-based JDBC tenant resolves credentials through the provider") {
    val secrets = graft.io.MapSecretsProvider(Map(
      "tenant-c-secret" -> Map(
        "username" -> "svc", "password" -> "pw",
        "db_name" -> "cdb", "table_name" -> "c_data")))
    val cfg =
      """{"configs": {"tenant_c": {
        |  "source": {"type": "json", "path": "/data/c/in.json"},
        |  "secondary": {"type": "jdbc", "secret": "tenant-c-secret",
        |                "endpoint": "db.example", "port": "3307"},
        |  "destination": {"dir": "/data/c/out"}}}}""".stripMargin
    valid(cfg, secrets).head.secondary match {
      case JdbcSource(o) =>
        // permitMysqlScheme rides along because the default driver is
        // MariaDB Connector/J, whose 3.x rejects the mysql scheme bare
        assert(o.url === "jdbc:mysql://db.example:3307/cdb?permitMysqlScheme")
        assert(o.dbtable === "c_data" && o.user === "svc" && o.password === "pw")
      case other => fail(s"expected JdbcSource, got $other")
    }
    // unknown secret name -> named error; no provider -> explicit error
    // (both confined to the tenant)
    assert(invalid(cfg, graft.io.MapSecretsProvider(Map.empty)).contains("not found"))
    assert(invalid(cfg).contains("no secrets provider"))
    // incomplete secret blob -> the missing key is named
    assert(invalid(cfg, graft.io.MapSecretsProvider(Map(
      "tenant-c-secret" -> Map("username" -> "svc")))).contains("'db_name'"))
  }

  test("per-tenant parse isolates one tenant's bad secret from the rest") {
    val cfg =
      """{"configs": {
        |  "good": {
        |    "source": {"type": "json", "path": "/g/in.json"},
        |    "secondary": {"type": "parquet", "path": "/g/db.parquet"},
        |    "destination": {"dir": "/g/out"}},
        |  "bad": {
        |    "source": {"type": "json", "path": "/b/in.json"},
        |    "secondary": {"type": "jdbc", "secret": "missing-secret",
        |                  "endpoint": "db.example"},
        |    "destination": {"dir": "/b/out"}}}}""".stripMargin
    val parsed = Config.parseTenants(cfg, graft.io.MapSecretsProvider(Map.empty))
    assert(parsed.size === 2)
    // sorted by name: bad first, good second
    assert(parsed.head.isLeft)
    assert(parsed.head.left.toOption.exists { case (n, m) =>
      n == "bad" && m.contains("missing-secret") })
    assert(parsed(1).toOption.exists(_.name == "good"))
  }

  test("JDBC option map: base options and all-or-nothing partitioning") {
    // distinctive password: a one-letter secret can collide with other
    // rendered text ("JdbcOptions" contains "p"), making a leak check
    // vacuous — this string appears in toString iff the password leaks
    val base = JdbcOptions("jdbc:mysql://h/db", "t", "u", "s3cr3t-pw!")
    assert(!base.toString.contains("s3cr3t-pw!"),
      "toString must not leak the password in any position")
    assert(base.toString.contains("<redacted>"))
    assert(base.asMap("driver") === "org.mariadb.jdbc.Driver")
    assert(!base.asMap.contains("partitionColumn"))

    val part = base.copy(partitionColumn = Some("id"), lowerBound = Some(0L),
      upperBound = Some(1000L), numPartitions = Some(8))
    assert(part.asMap("partitionColumn") === "id")
    assert(part.asMap("numPartitions") === "8")

    intercept[IllegalArgumentException] {
      base.copy(partitionColumn = Some("id")).asMap
    }
  }
}
