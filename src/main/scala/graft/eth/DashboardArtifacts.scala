package graft.eth

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods._

/** Deployable Grafana provisioning artifacts — the reference ships its
  * dashboards as JSON the Grafana container imports on boot
  * (/root/reference/grafana/dashboards/{ethereum,erc20_tokens,
  * insights}.json provisioned by grafana/configure_grafana.sh); this
  * emits the same three dashboards, panel for panel, with each query
  * rewritten from the ClickHouse dialect to Spark SQL over this
  * engine's FINAL table views (the SQL surface `GraftExtensions`
  * registers). `$timeFilter` / `$timeSeries` stay as Grafana macros —
  * the picker substitutes them at render time, exactly as in the
  * reference (eth/Grafana.scala holds the engine-side equivalents).
  *
  * DashboardsSpec executes every panel (macros substituted) against
  * fixture views and checks their values.
  */
object DashboardArtifacts {

  final case class Panel(title: String, panelType: String, query: String)
  final case class Dashboard(slug: String, title: String, panels: Seq[Panel])

  private val windowBlocks =
    "(SELECT number FROM block WHERE $timeFilter)"
  private val zero = "0x0000000000000000000000000000000000000000"

  /** grafana/dashboards/ethereum.json — 12 panels. */
  val ethereum: Dashboard = Dashboard("ethereum", "Ethereum", Seq(
    Panel("Ethereum transfers", "singlestat",
      s"SELECT count(*) FROM internal_transaction WHERE value > 0 AND blockNumber IN $windowBlocks"),
    Panel("Ethereum transferred", "singlestat",
      s"SELECT sum(value) FROM internal_transaction WHERE blockNumber IN $windowBlocks"),
    Panel("Smart Contracts Created", "singlestat",
      s"SELECT count(*) FROM contract WHERE blockNumber IN $windowBlocks"),
    Panel("Smart Contracts Called", "singlestat",
      s"SELECT count(*) FROM internal_transaction WHERE `to` IN (SELECT address FROM contract) AND blockNumber IN $windowBlocks"),
    Panel("TOP Ethereum Senders", "table",
      s"SELECT `from` AS address, sum(value) AS eth_sended FROM internal_transaction WHERE blockNumber IN $windowBlocks GROUP BY `from` ORDER BY eth_sended DESC LIMIT 10"),
    Panel("TOP Ethereum Receivers", "table",
      s"SELECT `to` AS address, sum(value) AS eth_received FROM internal_transaction WHERE blockNumber IN $windowBlocks GROUP BY `to` ORDER BY eth_received DESC LIMIT 10"),
    Panel("Ethereum Transfers", "graph",
      "SELECT $timeSeries AS t, count(*) AS n FROM internal_transaction " +
        "JOIN block ON blockNumber = number WHERE $timeFilter GROUP BY t ORDER BY t"),
    Panel("TOP Contracts", "table",
      s"SELECT `to` AS address, CAST(count(*) AS DOUBLE) AS calls FROM internal_transaction WHERE `to` IN (SELECT address FROM contract) AND blockNumber IN $windowBlocks GROUP BY `to` ORDER BY calls DESC LIMIT 10"),
    Panel("TOP Contract Callers", "table",
      s"SELECT `from` AS address, CAST(count(*) AS DOUBLE) AS calls_sended FROM internal_transaction WHERE blockNumber IN $windowBlocks AND `to` IN (SELECT address FROM contract) GROUP BY `from` ORDER BY calls_sended DESC LIMIT 10"),
    Panel("Top Gas Burners (Contracts)", "table",
      s"SELECT `to` AS address, avg(gasUsed * gasPrice) AS gas_spended FROM internal_transaction WHERE blockNumber IN $windowBlocks GROUP BY `to` ORDER BY gas_spended DESC LIMIT 10"),
    Panel("Gas Usage", "graph",
      "SELECT to_date(timestamp) AS date, CAST(count(*) AS DOUBLE) AS blocks FROM block GROUP BY date ORDER BY date"),
    Panel("TOP Miners", "table",
      s"SELECT author, CAST(count(*) AS DOUBLE) AS blocks FROM internal_transaction WHERE blockNumber IN $windowBlocks AND type = 'reward' GROUP BY author ORDER BY blocks DESC LIMIT 10")))

  /** grafana/dashboards/erc20_tokens.json — 4 panels. */
  val erc20Tokens: Dashboard = Dashboard("erc20_tokens", "ERC20 Tokens", Seq(
    Panel("ERC20 Tokens", "singlestat",
      s"SELECT CAST(count(*) AS DOUBLE) FROM contract_description WHERE id IN (SELECT address FROM contract WHERE blockNumber IN $windowBlocks)"),
    Panel("ERC20 Transactions", "singlestat",
      s"SELECT CAST(count(*) AS DOUBLE) FROM token_transaction WHERE blockNumber IN $windowBlocks"),
    Panel("TOP Token Holders", "table",
      s"SELECT `from` AS address, CAST(count(DISTINCT token) AS DOUBLE) AS unique_tokens FROM token_transaction WHERE blockNumber IN $windowBlocks AND `from` != '$zero' GROUP BY `from` ORDER BY unique_tokens DESC LIMIT 10"),
    // the reference's ANY INNER JOIN collapses dup description rows;
    // the GROUP BY id derivation below is the deterministic equivalent
    Panel("TOP Tokens", "table",
      s"SELECT t.token, d.token_name, t.holders FROM (SELECT token, CAST(count(DISTINCT `to`) AS DOUBLE) AS holders FROM token_transaction WHERE blockNumber IN $windowBlocks AND token != '$zero' GROUP BY token ORDER BY holders DESC LIMIT 10) t JOIN (SELECT id AS token, min(token_name) AS token_name FROM contract_description GROUP BY id) d USING (token)")))

  /** grafana/dashboards/insights.json — 10 singlestat panels. */
  val insights: Dashboard = Dashboard("insights", "Insights", Seq(
    Panel("Actual block", "singlestat",
      "SELECT count(*) FROM block WHERE $timeFilter"),
    Panel("Contracts", "singlestat",
      s"SELECT count(*) FROM contract WHERE blockNumber IN $windowBlocks"),
    Panel("ERC20 Tokens", "singlestat",
      s"SELECT count(*) FROM contract WHERE blockNumber IN $windowBlocks AND standard_erc20 = 1"),
    Panel("ERC20 token descriptions", "singlestat",
      s"SELECT count(*) FROM contract_description WHERE id IN (SELECT address FROM contract WHERE blockNumber IN $windowBlocks)"),
    Panel("Contract ABIs", "singlestat",
      s"SELECT count(*) FROM contract_abi WHERE id IN (SELECT address FROM contract WHERE blockNumber IN $windowBlocks)"),
    Panel("Total transactions", "singlestat",
      s"SELECT count(*) FROM internal_transaction WHERE blockNumber IN $windowBlocks"),
    Panel("Total events", "singlestat",
      s"SELECT count(*) FROM event WHERE blockNumber IN $windowBlocks"),
    Panel("ERC20 transactions", "singlestat",
      s"SELECT count(*) FROM token_transaction WHERE blockNumber IN $windowBlocks"),
    Panel("Inputs for transactions", "singlestat",
      "SELECT count(*) FROM transaction_input"),
    Panel("Inputs for events", "singlestat",
      "SELECT count(*) FROM event_input")))

  val all: Seq[Dashboard] = Seq(ethereum, erc20Tokens, insights)

  /** One dashboard as importable Grafana JSON (the reference's
    * {"dashboard": ..., "meta": ...} export wrapper, panels in rows).
    */
  def renderJson(d: Dashboard): String = {
    val panels = d.panels.zipWithIndex.map { case (p, i) =>
      ("id" -> (i + 1)) ~
        ("title" -> p.title) ~
        ("type" -> p.panelType) ~
        ("datasource" -> "graft-spark") ~
        ("targets" -> List(("query" -> p.query) ~ ("format" ->
          (if (p.panelType == "graph") "time_series" else "table"))))
    }
    val dashboard =
      ("title" -> d.title) ~
        ("schemaVersion" -> 14) ~
        ("timezone" -> "utc") ~
        ("rows" -> List(("panels" -> panels.toList): org.json4s.JObject))
    pretty(render(("dashboard" -> dashboard) ~ ("meta" -> ("slug" -> d.slug))))
  }

  /** Datasource provisioning stub (grafana/datasources/clickhouse.json
    * analog): points Grafana at the engine's SQL endpoint.
    */
  def datasourceJson(url: String = "http://localhost:10000"): String =
    pretty(render(
      ("id" -> 1) ~ ("orgId" -> 1) ~ ("name" -> "graft-spark") ~
        ("type" -> "spark-sql-datasource") ~ ("access" -> "direct") ~
        ("url" -> url) ~ ("isDefault" -> true)))

  /** Write dashboards/<slug>.json and datasources/spark.json under
    * `dir`; returns the written paths.
    */
  def writeAll(dir: String): Seq[Path] = {
    val base = Paths.get(dir)
    Files.createDirectories(base.resolve("dashboards"))
    Files.createDirectories(base.resolve("datasources"))
    val dashboards = all.map { d =>
      val p = base.resolve("dashboards").resolve(s"${d.slug}.json")
      Files.write(p, renderJson(d).getBytes(StandardCharsets.UTF_8))
      p
    }
    val ds = base.resolve("datasources").resolve("spark.json")
    Files.write(ds, datasourceJson().getBytes(StandardCharsets.UTF_8))
    dashboards :+ ds
  }
}
