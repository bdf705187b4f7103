package perfbench

import org.apache.spark.sql.SparkSession

/** Runs `graft.etl.CarrotCli.main` unchanged in this JVM, as a user's
  * `java ... graft.etl.CarrotCli` would, and records when its SparkSession
  * became ready and what the process had used when the CLI returned.
  * With probe=1 the process ends as soon as the session is ready: a
  * set-up sample of the same CLI start.
  *
  * Usage: Launch <figures.json> <probe 0|1> <CarrotCli arguments...>
  */
object Launch {
  def main(args: Array[String]): Unit = {
    val figuresPath = args(0)
    val probe = args(1) == "1"
    @volatile var readyMs = -1L
    // the CLI builds its own session; the default session appears when
    // getOrCreate returns
    val poll = new Thread(() => {
      while (SparkSession.getDefaultSession.isEmpty) Thread.sleep(1)
      readyMs = System.currentTimeMillis()
      if (probe) {
        Proc.writeJson(figuresPath, Proc.endFigures(readyMs))
        Runtime.getRuntime.halt(0)
      }
    })
    poll.setDaemon(true)
    poll.start()
    graft.etl.CarrotCli.main(args.drop(2))
    Proc.writeJson(figuresPath, Proc.endFigures(readyMs))
  }
}
