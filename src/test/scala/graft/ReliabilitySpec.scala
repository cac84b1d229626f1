package graft

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Reliability
import graft.sinks.AppLog

/** ST5–ST9 + K5 operational semantics — pure-JVM tests (injected clocks,
  * no Spark session needed), mirroring the reference's mocked-clock
  * rotator/sampler test style (`pkg/sink/rotator_test.go`). */
class ReliabilitySpec extends AnyFunSuite {

  private def freshDir(name: String): String = {
    val p = s"/tmp/graft_rel_$name"
    Graft.rmTree(p)
    Files.createDirectories(Paths.get(p))
    p
  }

  // ---- ST8 -------------------------------------------------------------------

  test("ST8 backoff: exponential growth, 120s cap, deterministic (ls2/write.go:52-98)") {
    val d1 = Reliability.backoffMs(1)
    val d2 = Reliability.backoffMs(2)
    val d5 = Reliability.backoffMs(5)
    assert(d1 >= 10000L && d1 <= 11000L)        // base + ≤10% jitter
    assert(d2 > d1 && d5 > d2)
    assert(Reliability.backoffMs(30) == 120000L) // cap
    assert(Reliability.backoffMs(3) == Reliability.backoffMs(3)) // deterministic
  }

  test("ST8 withRetry: succeeds after transient failures, sleeps between") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val out = Reliability.withRetry(maxAttempts = 5,
        sleep = (ms: Long) => sleeps += ms) { attempt =>
      calls += 1
      if (attempt < 3) throw new RuntimeException(s"flaky $attempt")
      s"ok@$attempt"
    }
    assert(out == "ok@3" && calls == 3 && sleeps.size == 2)
    assert(sleeps(1) > sleeps(0)) // backoff grew
  }

  test("ST8 withRetry: rethrows after maxAttempts") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Reliability.withRetry(maxAttempts = 3, sleep = _ => ()) { _ =>
        calls += 1; throw new RuntimeException("always")
      }
    }
    assert(e.getMessage == "always" && calls == 3)
  }

  test("ST8 withRetry: an interrupt is rethrown at once, without a sleep") {
    var sleeps = 0
    var calls = 0
    intercept[InterruptedException] {
      Reliability.withRetry(maxAttempts = 5, sleep = _ => sleeps += 1) { _ =>
        calls += 1; throw new InterruptedException("stopped")
      }
    }
    assert(calls == 1 && sleeps == 0)
    // a job cancelled by a stop fails with a plain exception while the
    // stopping thread's interrupt flag is set
    Thread.currentThread.interrupt()
    try {
      intercept[RuntimeException] {
        Reliability.withRetry(maxAttempts = 5, sleep = _ => sleeps += 1) { _ =>
          calls += 1; throw new RuntimeException("job cancelled")
        }
      }
    } finally Thread.interrupted()
    assert(calls == 2 && sleeps == 0)
  }

  // ---- ST5 -------------------------------------------------------------------

  test("ST5 checkpoint integrity: healthy, zeroed, gapped (status.go:139-172)") {
    val root = freshDir("ckpt")
    Files.createDirectories(Paths.get(root, "offsets"))
    Files.createDirectories(Paths.get(root, "commits"))
    Seq(0, 1, 2).foreach(i =>
      Files.write(Paths.get(root, "offsets", i.toString), s"v1\n{\"batch\":$i}".getBytes))
    Seq(0, 1).foreach(i =>
      Files.write(Paths.get(root, "commits", i.toString), "v1\n{}".getBytes))
    assert(Reliability.checkpointIntegrity(root) == Right(1L))

    // all-0x00 corruption — the reference's state-file failure mode
    Files.write(Paths.get(root, "offsets", "2"), Array.fill[Byte](16)(0))
    val zeroed = Reliability.checkpointIntegrity(root)
    assert(zeroed.isLeft && zeroed.swap.toOption.get.contains("zeroed"))

    // gap in batch ids
    Files.write(Paths.get(root, "offsets", "2"), "v1\n{}".getBytes)
    Files.write(Paths.get(root, "offsets", "4"), "v1\n{}".getBytes)
    val gapped = Reliability.checkpointIntegrity(root)
    assert(gapped.isLeft && gapped.swap.toOption.get.contains("gap"))

    assert(Reliability.checkpointIntegrity("/tmp/graft_rel_nonexistent").isLeft)
  }

  test("ST5 checkpoint integrity: empty logs resume, wiped offsets over a source log refuse") {
    val root = freshDir("ckpt_wiped")
    Seq("offsets", "commits", "sources/0").foreach(d =>
      Files.createDirectories(Paths.get(root, d)))
    // a query that has planned no batch yet
    assert(Reliability.checkpointIntegrity(root) == Right(-1L))
    // offsets and commits wiped, the file-source log still names batch 0
    Files.write(Paths.get(root, "sources", "0", "0"), "v1\n{\"path\":\"a\"}".getBytes)
    val wiped = Reliability.checkpointIntegrity(root)
    assert(wiped.isLeft && wiped.swap.toOption.get.contains("source log"))
  }

  // ---- ST9 -------------------------------------------------------------------

  test("ST9 single-instance lock: second acquisition refused, release works") {
    val dir = freshDir("lock")
    Reliability.withInstanceLock(dir, "one") {
      val e = intercept[IllegalStateException] {
        Reliability.withInstanceLock(dir, "two") { fail("must not enter") }
      }
      assert(e.getMessage.contains("held by: one"))
    }
    // released — a new acquisition succeeds
    assert(Reliability.withInstanceLock(dir, "three") { 42 } == 42)
  }

  // ---- ST6 -------------------------------------------------------------------

  test("ST6 debounce: fires after quiet period, or at max hold (fsnotify.go:11-109)") {
    val d = new Reliability.Debouncer(quietMs = 2000, maxMs = 5000)
    assert(!d.shouldFire(0))
    d.event(1000)
    assert(!d.shouldFire(1500))       // not quiet yet
    assert(!d.shouldFire(2500))       // 1.5s after last event
    assert(d.shouldFire(3000))        // 2s quiet → fire
    assert(!d.shouldFire(3001))       // reset after firing

    // a steady event storm still fires at maxMs
    (0 to 7000 by 500).foreach(t => d.event(t.toLong + 10000))
    assert(d.shouldFire(15001))       // 5s past first event despite no quiet
  }

  test("ST6 config reloader: mtime change + debounce → new config") {
    val dir = freshDir("cfg")
    val path = s"$dir/job.json"
    Files.write(Paths.get(path), """{"strip_crlf": false}""".getBytes)
    var now = 100000L
    val r = new Reliability.ConfigReloader(path, quietMs = 2000, maxMs = 5000,
      clock = () => now)
    assert(!r.current.mods.stripCrlf)
    assert(r.poll().isEmpty)          // unchanged

    Files.write(Paths.get(path), """{"strip_crlf": true}""".getBytes)
    Files.setLastModifiedTime(Paths.get(path),
      java.nio.file.attribute.FileTime.fromMillis(now + 500))
    now += 600
    assert(r.poll().isEmpty)          // change seen, still debouncing
    now += 2500
    val reloaded = r.poll()           // quiet period elapsed → reload
    assert(reloaded.nonEmpty && reloaded.get.mods.stripCrlf)
    assert(r.current.mods.stripCrlf)
    assert(r.poll().isEmpty)          // stable again
  }

  // ---- ST7 (pure part: drain flag handling is exercised in StreamingSpec's
  // real-query paths; here we assert the API contract on a stopped query
  // via the streaming suite — nothing to fake without a session) ---------------

  // ---- K5 --------------------------------------------------------------------

  test("K5 app-log sink: hourly rotation + retention (main.go:49-83)") {
    val dir = freshDir("applog")
    var t = Instant.parse("2024-01-15T10:59:50Z")
    val log = new AppLog(dir, retainHours = 2, clock = () => t)
    log.log("info", "starting up\nline2 \"quoted\"")
    t = Instant.parse("2024-01-15T11:00:10Z") // hour rolls → new file
    log.log("warn", "second hour")
    val files = Files.list(Paths.get(dir)).iterator()
    val names = scala.collection.mutable.ArrayBuffer[String]()
    while (files.hasNext) names += files.next().getFileName.toString
    assert(names.toSet == Set("applog_20240115_10.ndjson", "applog_20240115_11.ndjson"))
    val line = new String(
      Files.readAllBytes(Paths.get(dir, "applog_20240115_10.ndjson")), "UTF-8")
    assert(line.contains("\\n") && line.contains("\\\"quoted\\\"") && line.endsWith("\n"))

    t = Instant.parse("2024-01-15T14:00:00Z") // 3h later, retain 2h
    val dropped = log.applyRetention()
    assert(dropped.toSet == Set("applog_20240115_10.ndjson", "applog_20240115_11.ndjson"))
  }
}
