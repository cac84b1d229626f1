package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.util.Using
import scala.util.control.NonFatal
import org.apache.spark.sql.streaming.StreamingQuery

/** Operational reliability semantics of the reference's service loop,
  * re-expressed for Spark Structured Streaming (SURVEY §2.11 ST5–ST9).
  * Spark's checkpoint/task machinery covers the happy path; these are the
  * explicit surfaces the reference exposes around it:
  *
  *  - ST8 sink retry/backoff — the logstash reconnect loop
  *    (`pkg/ls2/write.go:52-98`: 10 s base, exponential, 10% jitter,
  *    120 s cap) as a `foreachBatch`-composable retry combinator.
  *  - ST7 graceful shutdown — drain in-flight work, flush sinks, then
  *    stop (`pkg/app/program.go:280-331`).
  *  - ST5 state integrity — detect truncated/zeroed checkpoint metadata
  *    the way the reference detects an all-0x00 state file and points at
  *    the `.0` safety copy (`pkg/status/status.go:139-172`).
  *  - ST9 single-instance lock — one pipeline per checkpoint
  *    (`cmd/xelogstash/main_app.go:111-117`, lockfile.go).
  */
object Reliability {

  // ---- ST8: retry with exponential backoff + deterministic jitter ----------

  /** Backoff delay before retry `attempt` (1-based): base·2^(attempt−1),
    * capped, plus a deterministic jitter in [0, jitterPermille‰] derived
    * from (seed, attempt) — the reference jitters 10% over a 10 s base
    * with a 120 s cap. Deterministic so tests and replays are stable. */
  def backoffMs(attempt: Int, baseMs: Long = 10000L, capMs: Long = 120000L,
                jitterPermille: Int = 100, seed: Long = 42L): Long = {
    // past 2^40 the doubling is far beyond any cap; clamp before shifting
    // so the multiply can't overflow
    val exp = math.min(40, math.max(0, attempt - 1))
    val raw = math.min(capMs, math.max(baseMs, baseMs * (1L << exp)))
    val h = java.util.Objects.hash(java.lang.Long.valueOf(seed),
      java.lang.Integer.valueOf(attempt)).toLong.abs
    val jitter = (raw * jitterPermille / 1000L) * (h % 1000L) / 1000L
    math.min(capMs, raw + jitter)
  }

  /** Run `op` (given the 1-based attempt number), retrying on exception up
    * to `maxAttempts` with [[backoffMs]] sleeps between attempts. The
    * reference retries forever; a bounded default keeps batch jobs from
    * wedging — pass `Int.MaxValue` for service-loop semantics. An
    * `InterruptedException`, or any failure while the thread's interrupt
    * flag is set (a stopped query), is rethrown at once, never retried.
    * `sleep` is injectable so tests run without wall-clock waits. */
  def withRetry[T](maxAttempts: Int = 5, baseMs: Long = 10000L,
                   capMs: Long = 120000L, seed: Long = 42L,
                   sleep: Long => Unit = Thread.sleep)(op: Int => T): T = {
    var attempt = 1
    while (true) {
      try return op(attempt)
      catch {
        case NonFatal(e) if !Thread.currentThread.isInterrupted =>
          if (attempt >= maxAttempts) throw e
          sleep(backoffMs(attempt, baseMs, capMs, seed = seed))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- ST7: graceful shutdown ------------------------------------------------

  /** Drain everything currently available (all pending micro-batches run
    * to completion, sinks flushed via their normal batch commit), then
    * stop the query — the context-cancel → drain → flush → save sequence
    * of the reference's shutdown path. Returns true when the query
    * stopped cleanly. */
  def stopGracefully(q: StreamingQuery, drain: Boolean = true): Boolean = {
    try {
      if (drain && q.isActive) q.processAllAvailable()
      if (q.isActive) q.stop()
      q.exception.isEmpty
    } catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => false }
  }

  // ---- ST5: checkpoint state integrity ----------------------------------------

  /** Validate a Structured Streaming checkpoint the way the reference
    * validates its state files: offset/commit metadata must be
    * non-empty, not be zeroed (the all-0x00 corruption case of
    * status.go:139-172), and batch ids must be contiguous. Empty logs
    * are healthy (no batch planned yet) unless a file-source log
    * (`sources/<n>/`) holds batches: Spark would re-read every logged
    * input after wiped offsets. Returns
    * Right(lastCommittedBatchId) or Left(diagnostic) — the diagnostic
    * names the damaged file so an operator can restore from a copy. */
  def checkpointIntegrity(checkpointDir: String): Either[String, Long] = {
    val offsets = Paths.get(checkpointDir, "offsets")
    val commits = Paths.get(checkpointDir, "commits")
    if (!Files.isDirectory(offsets)) return Left(s"missing offsets dir: $offsets")

    def batchFiles(dir: Path): Seq[(Long, Path)] =
      if (!Files.isDirectory(dir)) Nil
      else {
        val it = Files.list(dir).iterator()
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Path)]()
        while (it.hasNext) {
          val p = it.next()
          val n = p.getFileName.toString
          if (n.forall(_.isDigit)) buf += ((n.toLong, p))
        }
        buf.sortBy(_._1).toSeq
      }

    def corrupt(p: Path): Option[String] = {
      val bytes = Files.readAllBytes(p)
      if (bytes.isEmpty) Some(s"empty metadata file: $p")
      else if (bytes.forall(_ == 0)) Some(s"zeroed metadata file: $p")
      else None
    }

    val off = batchFiles(offsets)
    val com = batchFiles(commits)
    val ids = off.map(_._1)
    val committed = com.map(_._1).toSet
    // batch files of the file-source logs: `<id>` or `<id>.compact`
    def sourceLogged: Boolean = {
      val sources = Paths.get(checkpointDir, "sources")
      Files.isDirectory(sources) && Using.resource(Files.walk(sources))(
        _.anyMatch(p => Files.isRegularFile(p) &&
          p.getFileName.toString.headOption.exists(_.isDigit)))
    }
    // Spark creates the log dirs up front, so a query that has planned no
    // batch yet has empty ones: healthy, Right(-1)
    val problem: Option[String] =
      Option.when(off.isEmpty && sourceLogged)(
        s"no offset files in $offsets, but the source log holds batches")
        .orElse((off ++ com).flatMap { case (_, p) => corrupt(p) }.headOption)
        .orElse(ids.zip(ids.drop(1)).collectFirst {
          case (a, b) if b != a + 1 => s"offset gap: batch $a -> $b"
        })
        .orElse(if (committed.subsetOf(ids.toSet)) None
                else Some(s"commit without offset: ${(committed -- ids.toSet).min}"))
    problem.toLeft(if (com.isEmpty) -1L else com.map(_._1).max)
  }

  // ---- ST9: single-instance lock ----------------------------------------------

  /** Acquire an exclusive instance lock under `dir` (atomic CREATE_NEW,
    * like the reference's per-config lock file), run `body`, release.
    * A second concurrent acquisition throws IllegalStateException naming
    * the holder. */
  def withInstanceLock[T](dir: String, owner: String = "graft")(body: => T): T = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val lock = d.resolve("graft.lock")
    try
      Files.write(lock, owner.getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val holder = new String(Files.readAllBytes(lock), "UTF-8")
        throw new IllegalStateException(
          s"instance lock at $lock already held by: $holder")
    }
    try body finally Files.deleteIfExists(lock)
  }

  // ---- ST6: config hot-reload debounce ----------------------------------------

  /** The reference's fsnotify debounce (`pkg/app/fsnotify.go:11-109`):
    * coalesce change events until `quietMs` of silence, but never hold a
    * pending reload longer than `maxMs`. Pure state machine over an
    * injected clock so it is unit-testable without waiting. */
  final class Debouncer(quietMs: Long = 2000L, maxMs: Long = 5000L) {
    private var firstEvent: Long = -1L
    private var lastEvent: Long = -1L

    /** A change event arrived at time `t` (ms). */
    def event(t: Long): Unit = {
      if (firstEvent < 0) firstEvent = t
      lastEvent = t
    }

    /** Should a pending reload fire at time `t`? Fires (and resets) when
      * the quiet period elapsed or the max hold is reached. */
    def shouldFire(t: Long): Boolean = {
      if (firstEvent < 0) return false
      val fire = (t - lastEvent >= quietMs) || (t - firstEvent >= maxMs)
      if (fire) { firstEvent = -1L; lastEvent = -1L }
      fire
    }
  }

  /** Mtime-polling config reloader: call [[poll]] between micro-batches
    * (e.g. at the top of a foreachBatch body); it feeds mtime changes into
    * the debouncer and returns the freshly-parsed config when a coalesced
    * reload fires — the restartless analog of the reference's
    * stop-pollers → reload → restart cycle. */
  final class ConfigReloader(path: String, quietMs: Long = 2000L,
                             maxMs: Long = 5000L,
                             clock: () => Long = () => System.currentTimeMillis()) {
    private val debounce = new Debouncer(quietMs, maxMs)
    private var lastMtime = mtime()
    @volatile var current: graft.sources.ConfigSource.JobConfig =
      graft.sources.ConfigSource.load(path)

    private def mtime(): Long = Files.getLastModifiedTime(Paths.get(path)).toMillis

    /** Returns Some(newConfig) when a debounced reload fired this poll. */
    def poll(): Option[graft.sources.ConfigSource.JobConfig] = {
      val t = clock()
      val m = mtime()
      if (m != lastMtime) { lastMtime = m; debounce.event(t) }
      if (debounce.shouldFire(t)) {
        current = graft.sources.ConfigSource.load(path)
        Some(current)
      } else None
    }
  }
}
