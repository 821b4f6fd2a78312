package graft.jobs

import graft.entities.Pipelines.tablePath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parameterized per-repo export — `GetRepoData(@OwnerLogin, @Name)`
  * (/root/reference/USQL/GetRepoData-unused.usql:7-134): point-filter one
  * repo, fan out through the event/issue children, emit one TSV per table.
  *
  * Plan shape (SURVEY.md §3.E3): the repo side is ~1 row → Catalyst
  * broadcasts it into every child join; the `event` frame is cached and
  * reused across the eight outputs instead of re-scanned per sink.
  */
object GetRepoData {

  def run(spark: SparkSession, curatedDir: String, outDir: String,
      ownerLogin: String, name: String): Map[String, DataFrame] = {
    def t(n: String) = graft.core.Tables.parquet(spark, tablePath(curatedDir, n))

    // :13 — point filter on (OwnerLogin, Name)
    val repo = t("repo")
      .where(col("owner_login") === ownerLogin && col("name") === name)
    // :35 — events of that repo (broadcast the 1-row build side)
    val event = t("event")
      .join(broadcast(repo.select(col("etl_source_id").as("__repo_urn"))),
        col("repo_urn") === col("__repo_urn"))
      .drop("__repo_urn")
      .cache()
    val eventUrns = broadcast(event.select(col("etl_source_id").as("__event_urn")))
    def childOfEvent(n: String): DataFrame =
      t(n).join(eventUrns, col("etl_source_id") === col("__event_urn"))
        .drop("__event_urn")
    // :84 — issues of the repo; :105 — labels of those issues
    val issue = t("issue")
      .join(broadcast(repo.select(col("etl_source_id").as("__repo_urn"))),
        col("repo_urn") === col("__repo_urn"))
      .drop("__repo_urn")
    val issueLabel = t("issue_label")
      .join(broadcast(issue.select(col("etl_source_id").as("__issue_urn"))),
        col("etl_source_id") === col("__issue_urn"))
      .drop("__issue_urn")

    // :17-110 — the reference's nine active outputs: repo, event, the five
    // event-payload children, issue, issue label
    val outputs = Map(
      "repo" -> repo,
      "event" -> event,
      "event_payload_commit" -> childOfEvent("event_payload_commit"),
      "event_payload_issue_label" -> childOfEvent("event_payload_issue_label"),
      "event_payload_page" -> childOfEvent("event_payload_page"),
      "event_payload_pull_request" -> childOfEvent("event_payload_pull_request"),
      "event_payload_release_asset" -> childOfEvent("event_payload_release_asset"),
      "issue" -> issue,
      "issue_label" -> issueLabel
    )
    // :17-110 — TSV sinks (Outputters.Tsv())
    outputs.foreach { case (n, df) =>
      df.write.mode("overwrite")
        .option("sep", "\t").option("header", "false")
        .csv(s"$outDir/$ownerLogin-$name-$n.tsv")
    }
    event.unpersist()
    outputs
  }
}
