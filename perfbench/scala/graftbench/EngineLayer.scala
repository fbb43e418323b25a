package graftbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.cep.{Compiler, Ev, MatchEngine, Pattern}

/** The engine alone: `MatchEngine.feed`/`finish` over events already grouped by key and
  * sorted by (ts, idx), on `threads` threads. It is both the engine layer's measurement and
  * an independent check of the pipeline's matches, since no Spark operator runs here. */
object EngineLayer {
  final case class Result(events: Long, matches: Long, digest: Long) {
    def json: Map[String, Any] = Map("events" -> events, "matches" -> matches, "digest" -> digest)
  }

  /** Groups by key, largest group first so the long ones start early. */
  def group(events: Array[Ev]): Array[Array[Ev]] =
    events.groupBy(_.key).values.map(_.sortBy(e => (e.ts, e.idx))).toArray.sortBy(-_.length)

  /** Traced, the run is an `engine` span with one `engine.worker` child per thread. */
  def run(groups: Array[Array[Ev]], patterns: Seq[Pattern], threads: Int, tracer: Tracer,
          rep: Int): Result = {
    val next = new AtomicInteger(0)
    val matches = new AtomicLong(0L)
    val digest = new AtomicLong(0L)
    tracer.span("engine", rep) {
      val parent = tracer.currentId
      val workers = (0 until threads).map { _ =>
        new Thread(() => tracer.child(parent, "engine.worker", rep) {
          val compiled = patterns.flatMap(Compiler.compile).toIndexedSeq
          var n = 0L; var d = 0L
          var i = next.getAndIncrement()
          while (i < groups.length) {
            val engine = new MatchEngine(compiled)
            val sink = (m: graft.cep.CepMatch) => { n += 1; d += Digest.of(m) }
            groups(i).foreach(e => engine.feedEach(e)(sink))
            engine.finish().foreach(sink)
            i = next.getAndIncrement()
          }
          matches.addAndGet(n); digest.addAndGet(d)
        })
      }
      workers.foreach(_.start())
      workers.foreach(_.join())
    }
    Result(groups.map(_.length.toLong).sum, matches.get, digest.get)
  }
}
