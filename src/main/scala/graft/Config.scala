package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.io.{BinaryFileSource, CsvSource, JdbcOptions, JdbcSource, JsonArraySource, JsonLinesSource, NoSecretsProvider, OrcSource, ParquetSource, RelationSource, Secrets, SecretsProvider}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Deterministic per-tenant configuration (SURVEY.md §2 O1/O20).
  *
  * The reference fans out one pipeline instance per key of
  * `configs.json` via Terraform `for_each` (`main.tf:3,15,36`), each
  * tenant carrying credential coordinates, S3 source/destination
  * coordinates, a Slack webhook, and database endpoint
  * (`configs.json:2-26`). The engine keeps the same shape minus the
  * cloud provisioning: a JSON file of named tenants, each resolving to
  * a runnable [[Pipeline.PipelineSpec]].
  *
  * Expected file shape (local analogue of the reference's blocks):
  * {{{
  * { "configs": {
  *     "tenantA": {
  *       "source":      { "type": "json",    "path": "/data/a/in.json" },
  *       "secondary":   { "type": "parquet", "path": "/data/a/db.parquet" },
  *       // or: { "type": "jdbc", "url": "...", "dbtable": "...",
  *       //        "user": "...", "password": "...", "driver": "..." }
  *       "destination": { "dir": "/data/a/out", "file": "merged.csv" },
  *       "key": "id"
  *     } } }
  * }}}
  *
  * Parsing walks Jackson's JsonNode tree directly (the Jackson core is
  * part of Spark's runtime) — no reflection/binding, so missing fields
  * fail with a named error instead of a null somewhere downstream.
  */
object Config {

  final case class TenantConfig(
      name: String,
      primary: RelationSource,
      secondary: RelationSource,
      key: String,
      destDir: String,
      destFile: String,
      webhook: Option[String] = None) {
    def toSpec: Pipeline.PipelineSpec = Pipeline.PipelineSpec(
      primary = primary,
      secondary = secondary,
      key = key,
      destDir = destDir,
      destFile = destFile)

    /** The tenant's notification sink: an [[HttpNotifier]] when the
      * config names a webhook URL (the reference's per-tenant Slack
      * webhook, `configs.json:2-26`), else the caller's `default` —
      * single-sourced here so no caller re-implements the fallback.
      * Construction attempts no I/O and delivery goes through
      * notifySafe, so a dead webhook never fails the tenant's run.
      */
    def notifier(default: Notifier): Notifier =
      webhook.map(u => new HttpNotifier(u): Notifier).getOrElse(default)
  }

  /** Per-tenant parse: one tenant's bad config (missing field, unknown
    * secret) yields a Left for THAT tenant only, so the multi-tenant
    * fan-out can still run every valid tenant — the reference isolates
    * tenants from each other (one Glue job per tenant), and eager
    * secret resolution must not break that.
    */
  def parseTenants(
      json: String,
      secrets: SecretsProvider = NoSecretsProvider): Seq[Either[(String, String), TenantConfig]] = {
    val root = new ObjectMapper().readTree(json)
    val tenants = req(root, "configs", "<root>")
    tenants.properties().asScala.toSeq.sortBy(_.getKey).map { e =>
      val name = e.getKey
      try {
        val t = e.getValue
        val dest = req(t, "destination", name)
        Right(TenantConfig(
          name = name,
          primary = source(req(t, "source", name), s"$name.source", secrets),
          secondary = source(req(t, "secondary", name), s"$name.secondary", secrets),
          key = opt(t, "key").getOrElse("id"),
          destDir = txt(dest, "dir", s"$name.destination"),
          destFile = opt(dest, "file").getOrElse("merged.csv"),
          webhook = opt(t, "webhook")))
      } catch {
        case ex: Throwable =>
          Left(name -> Option(ex.getMessage).getOrElse(ex.toString))
      }
    }
  }

  /** [[parseTenants]] over the UTF-8 file at `path`. */
  def loadFileTenants(
      path: String,
      secrets: SecretsProvider = NoSecretsProvider): Seq[Either[(String, String), TenantConfig]] =
    parseTenants(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"), secrets)

  private def source(
      n: JsonNode, where: String, secrets: SecretsProvider): RelationSource =
    txt(n, "type", where) match {
      case "json" => JsonArraySource(txt(n, "path", where))
      case "jsonl" => JsonLinesSource(txt(n, "path", where))
      case "csv" => CsvSource(txt(n, "path", where))
      case "orc" => OrcSource(txt(n, "path", where))
      case "binary" => BinaryFileSource(txt(n, "path", where))
      case "parquet" => ParquetSource(txt(n, "path", where))
      case "jdbc" if n.has("secret") =>
        // the reference's shape: Database block (endpoint/port) + a
        // named SecretsManager blob carrying db_name/table/credentials
        JdbcSource(Secrets.jdbcFromSecret(
          endpoint = txt(n, "endpoint", where),
          port = opt(n, "port").getOrElse("3306"),
          secret = secrets.secret(txt(n, "secret", where)),
          driver = opt(n, "driver").getOrElse("org.mariadb.jdbc.Driver")))
      case "jdbc" => JdbcSource(JdbcOptions(
        url = txt(n, "url", where),
        dbtable = txt(n, "dbtable", where),
        user = txt(n, "user", where),
        password = txt(n, "password", where),
        driver = opt(n, "driver").getOrElse("org.mariadb.jdbc.Driver")))
      case other => fail(where, s"unknown source type '$other'")
    }

  private def req(n: JsonNode, field: String, where: String): JsonNode = {
    val v = n.get(field)
    if (v == null || v.isNull) fail(where, s"missing required field '$field'")
    v
  }

  private def txt(n: JsonNode, field: String, where: String): String =
    req(n, field, where).asText()

  private def opt(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText())

  private def fail(where: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"config error at $where: $msg")
}
