package graft.cli

import graft.engine.Engine

/** Console entry point (reference cli.py:21-52 behaviors): `-p` takes plan
  * text or a path to a plan file (a value that is an existing file is read
  * as a file, cli.py:11-19); with no `-p`, the plan is read from stdin.
  * Greetings/diagnostics go to stderr so stdout stays pure JSON
  * (cli.py:43-45); the run result prints as one JSON document
  * (cli.py:47-51).
  *
  * The LLM planner is out of engine scope (SURVEY.md preamble) — this is
  * the reference's *offline mode* (runtime.py:19-24), the fully
  * deterministic path. Invoke via spark-submit with a cron scheduler for
  * the reference's Prefect role (operator.py:4-16).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val planArg = args.sliding(2).collectFirst {
      case Array("-p", v) => v
    }
    val planText = planArg match {
      case Some(v) =>
        val p = java.nio.file.Paths.get(v)
        if (java.nio.file.Files.isRegularFile(p))
          new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
        else v
      case None => scala.io.Source.stdin.mkString
    }
    System.err.println("graft: running plan")

    val spark = graft.Session.create()
    try {
      // optional run ledger (reference memory.py role): enabled by env
      val ledger = sys.env.get("GRAFT_LEDGER_DIR")
        .map(dir => new graft.engine.Ledger(spark, dir))
      val runId = ledger.map(_.startRun(planText, planText))
      val result = new Engine(spark).run(planText)
      ledger.zip(runId).foreach { case (l, id) => l.finishRun(id, result) }
      println(result.toJson)
      if (result.status != "ok") sys.exit(1)
    } finally spark.stop()
  }
}
