package graftbench

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a graft layer. `parent` is 0 for a top-level span.
  * `extraSelfNs` is time charged to the span's self time that lies outside
  * its own interval: the streaming engine's part of a micro-batch, which
  * Spark measures and no span of the benchmark can enclose. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    var endNs: Long) {
  @volatile var extraSelfNs = 0L
  def durNs: Long = endNs - startNs
}

/** Counts attributed to one span: Spark jobs, executor CPU and shuffle bytes
  * (from [[SpanListener]]), filesystem calls and bytes written (from
  * [[CountingFileSystem]]). Only the innermost open span is charged, so
  * every count is already a self count. */
final class SpanCounts {
  val jobs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val fsOps = new AtomicLong
  val writeBytes = new AtomicLong
}

/** In-memory span recorder. The benchmark drives graft as one closed-loop
  * client, so at most one span chain is open at a time; the innermost open
  * span is a process-wide value that executor tasks and filesystem calls
  * (same JVM under `local[N]`) can read. Spark jobs are tagged through the
  * `perfbench.span` local property, which threads graft spawns inherit. */
object Tracer {
  val SpanProp = "perfbench.span"

  @volatile var enabled = false
  @volatile private var current = 0
  private var nextId = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = new ConcurrentHashMap[Int, SpanCounts]()

  def currentSpan: Int = current

  def countsOf(id: Int): SpanCounts =
    counts.computeIfAbsent(id, _ => new SpanCounts)

  /** Run `body` inside a span named `name` when tracing is on; always
    * returns `body`'s result and its wall time in nanoseconds. */
  def timed[T](sc: SparkContext, name: String)(body: => T): (T, Long) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, System.nanoTime() - t0)
    }
    val s = synchronized {
      nextId += 1
      val sp = Span(nextId, current, name, System.nanoTime(), 0L)
      spans += sp
      sp
    }
    val prevProp = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    current = s.id
    try {
      val r = body
      s.endNs = System.nanoTime()
      (r, s.durNs)
    } finally {
      if (s.endNs == 0L) s.endNs = System.nanoTime()
      current = s.parent
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (children of one parent never overlap here —
    * the benchmark opens them one after another), plus its extra self time. */
  def selfNs(ss: Seq[Span]): Map[Int, Long] = {
    val childNs = ss.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.durNs).sum }
    ss.map(s => s.id ->
      (math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L)) + s.extraSelfNs)).toMap
  }

  /** Spans as a JSON array (written when the run ends). */
  def json(ss: Seq[Span], t0: Long): String =
    ss.map { s =>
      val c = countsOf(s.id)
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${(s.startNs - t0) / 1e6},"end_ms":${(s.endNs - t0) / 1e6},""" +
        s""""extra_self_ms":${s.extraSelfNs / 1e6},""" +
        s""""jobs":${c.jobs.get},"cpu_ns":${c.cpuNs.get},""" +
        s""""shuffle_bytes":${c.shuffleBytes.get},"fs_ops":${c.fsOps.get},""" +
        s""""write_bytes":${c.writeBytes.get}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Charges Spark jobs, executor CPU and shuffle read + write bytes to the
  * span whose id the job carried in its `perfbench.span` local property. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(0)
    Tracer.countsOf(id).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageSpan.put(s, id))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = Tracer.countsOf(stageSpan.getOrDefault(e.stageId, 0))
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

/** The local filesystem under the benchmark-owned `gbcount` scheme. */
final class GbRawFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(CountingFileSystem.Scheme + ":///")
  override def getScheme: String = CountingFileSystem.Scheme
}

/** Checksummed local filesystem (what `file:` resolves to) that charges
  * create, open, list, getFileStatus, rename and delete calls, and bytes
  * written, to the innermost open span. The local filesystem keeps no
  * listing statistics of its own, so the traced run points the repository
  * at this scheme through `spark.hadoop.fs.gbcount.impl`. */
final class CountingFileSystem extends FilterFileSystem(
    new LocalFileSystem(new GbRawFileSystem)) {
  import CountingFileSystem._

  private def op(): Unit =
    if (Tracer.enabled) Tracer.countsOf(Tracer.currentSpan).fsOps.incrementAndGet()

  override def getScheme: String = Scheme

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    op()
    counted(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    op()
    counted(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    op(); super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    op(); super.listStatus(f)
  }

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    op(); super.listLocatedStatus(f)
  }

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    op(); super.listStatusIterator(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    op(); super.getFileStatus(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    op(); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    op(); super.delete(f, recursive)
  }
}

object CountingFileSystem {
  val Scheme = "gbcount"

  private def counted(out: FSDataOutputStream): FSDataOutputStream = {
    val span = Tracer.currentSpan
    new FSDataOutputStream(new java.io.OutputStream {
      private def add(n: Long): Unit =
        if (Tracer.enabled) Tracer.countsOf(span).writeBytes.addAndGet(n)
      override def write(b: Int): Unit = { out.write(b); add(1) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); add(len)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }, null)
  }
}
