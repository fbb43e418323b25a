package graftbench

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      workDir: String, cores: Int)

trait Workload {
  /** Generates the corpus unless it is cached. */
  def prepare(): Unit

  /** Measures; the raw figures that perfbench/run.py turns into metrics. */
  def run(): Map[String, Any]
}

/** `prepare` generates a workload's corpus; `run` measures it in a fresh JVM, whose set-up
  * is therefore cold, and prints the raw measurements as one JSON line prefixed with
  * `GRAFTBENCH `.
  * args: prepare|run workload seed seconds trace(0|1) workDir cores */
object Main {
  def main(args: Array[String]): Unit = {
    // The launcher never writes to our stdin: end of input means it is gone, and a
    // benchmark JVM must not outlive it.
    val watchdog = new Thread(() => {
      try { while (System.in.read() != -1) () } catch { case _: Throwable => () }
      Runtime.getRuntime.halt(143)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    Clock.note(s"start ${args(0)}")
    val o = Opts(args(1), args(2).toLong, args(3).toInt, args(4) == "1", args(5), args(6).toInt)
    val w: Workload = o.workload match {
      case "uniform_heavy" => new BatchBench(o, BatchBench.uniformHeavy)
      case "cliff_payload" => new BatchBench(o, BatchBench.cliffPayload)
      case "stream_replay" => new StreamBench(o)
      case other           => sys.error(s"unknown workload $other")
    }
    args(0) match {
      case "prepare" => w.prepare()
      case "run"     => println("GRAFTBENCH " + Serialization.write(w.run())(DefaultFormats))
      case other     => sys.error(s"unknown mode $other")
    }
    Clock.note(s"done ${args(0)}")
    System.out.flush()
    // The result is out: skip the session's orderly stop and the shutdown hooks, which
    // take a second or two; perfbench/run.py removes the local directories they would.
    Runtime.getRuntime.halt(0)
  }
}
