package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.cep.CepMatch
import scala.jdk.CollectionConverters._

/** Peak heap occupancy right after a collection: the sum over heap pools of their usage
  * after each GC, as the JVM reports it in its GC notifications. */
object HeapPeak {
  private val peak = new AtomicLong(0L)
  private val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _                      => ()
  }

  def reset(): Unit = peak.set(0L)
  def bytes: Long = peak.get

  /** JVM-wide GC time so far, in seconds. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** Order-independent digest of match rows: the sum of a 64-bit hash of every field. The
  * pipeline and its independent check both reduce their matches through [[of]]. */
object Digest {
  private def mix(h: Long, x: Long): Long = {
    var z = h ^ (x + 0x9e3779b97f4a7c15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z ^ (z >>> 29)
  }

  def of(m: CepMatch): Long = {
    var h = mix(m.key.hashCode.toLong, m.patternId.toLong)
    h = mix(h, m.firstTs); h = mix(h, m.lastTs)
    h = mix(h, java.lang.Double.doubleToLongBits(m.prob))
    m.binds.foreach { b =>
      h = mix(h, b.slot.toLong); h = mix(h, b.name.hashCode.toLong); h = mix(h, b.aggId)
      b.evs.foreach(e => h = mix(mix(h, e.idx), e.ts))
    }
    h
  }

  /** (count, digest) of a match Dataset, in one job. */
  def ofDataset(ds: Dataset[CepMatch]): (Long, Long) = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      var n = 0L; var d = 0L
      it.foreach { m => n += 1; d += of(m) }
      Iterator((n, d))
    }.collect().foldLeft((0L, 0L)) { case ((n, d), (n1, d1)) => (n + n1, d + d1) }
  }

  /** The same idea in Catalyst, for streaming output that can only be observed: the
    * low 32 bits of xxhash64 over every column, summed (no overflow below 2^31 rows). */
  val sqlDigest: Column =
    coalesce(sum(xxhash64(col("key"), col("patternId"), col("firstTs"), col("lastTs"),
      col("binds"), col("prob")).bitwiseAND(lit(0xffffffffL))), lit(0L))
}

object Session {
  /** A local session at `cores` threads; shuffle and state partitions = cores.
    * Adaptive execution may not coalesce shuffle partitions: the corpora here shuffle a few
    * MB, which it would merge into one reduce task, while the tables they stand for
    * shuffle enough to keep one partition per core. */
  def start(cores: Int, workDir: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Clock {
  private val t0 = System.nanoTime()

  /** Progress note on stderr (the run's log), stamped with seconds since start. */
  def note(msg: String): Unit = System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

}
