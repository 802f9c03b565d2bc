package graft

import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the bench's driver-facing digest line ([[Bench.digestLine]]) and
  * the catalog cross-references it depends on. No SparkSession needed —
  * everything under test is pure.
  *
  * Why the length pin exists: the driver captures only the LAST 2000
  * characters of bench stdout and greps the last `{`-prefixed line inside
  * that window. Six of seven rounds shipped `parsed:null` because the
  * cumulative compact line outgrew the window (~7 KB by round 10 vs the
  * 1783-char round-4 line that parsed). The digest is the line that must
  * fit — with margin for sbt's trailing "[success] Total time: …" output
  * inside the same window — so its WORST-CASE length is asserted here,
  * not its typical length: every headline median present at a 5-digit
  * value, every scale pick present, every counter at 3 digits, all
  * passes contended.
  */
class BenchDigestSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def worstCaseDigest: String = {
    // 999.999, not 99999.999: every sample is WATCHDOG-CAPPED (240 s
    // main / 600 s scale at the default knobs the driver runs), so a
    // 4-digit seconds value is already above anything a default-config
    // run can emit — paranoia beyond the caps would burn tail-window
    // budget on impossible digits. (Raising the cap env knobs 10× buys
    // one digit per value; the margin below absorbs that.)
    val meds = Bench.DigestQueries.map(_ -> 999.999).toMap
    // any catalog gate can run in a section (SPARK_GRAFT_SF*_QUERIES)
    val longestNames = SparkEntry.catalog.map(_.name).sortBy(-_.length)
    val scales = Seq("sf1", "sf30", "sf100").map { label =>
      Bench.ScaleSummary(label,
        Bench.ScaleDigestPicks(label).map(_ -> Option(999.999)),
        contended = true,
        // worst case: the digest's 2-cause cap filled by child deaths,
        // each keyed by the longest in-flight marker a death records and
        // carrying the longest cause a death or a kept arm can produce —
        // `child_exit_255` (exit statuses are 0–255); `calib_bracket`,
        // `child_timeout`, `ext=`/`sys=`/`gc=` and, below a 1 TiB heap,
        // `heap=<N>mb` are all shorter
        causes = longestNames.take(2)
          .map(n => s"(between samples; last=$label:$n)" -> "child_exit_255"))
    }
    Bench.digestLine(
      total = 99999.999, reps = 99, repsCompleted = 99, truncated = true,
      contended = 1 to 99 by 11, suspect = 999, noClean = 999, errors = 999,
      skipped = 999, medians = meds, scales = scales,
      // the driver pins SPARK_GRAFT_SF_DIR to /root/testdata/sf0.1; a
      // same-length fixture keeps the worst case bound to real inputs
      sfDir = "/root/testdata/sf0.1",
    )
  }

  test("worst-case digest line stays far inside the driver's 2000-char tail window") {
    val line = worstCaseDigest
    assert(!line.contains("\n"))
    assert(line.startsWith("{") && line.endsWith("}"))
    // 1900, not 2000: sbt prints ~100–200 chars of [success]/timing after
    // the last line, and those land inside the same tail window.
    assert(line.length < 1900, s"digest is ${line.length} chars:\n$line")
  }

  test("digest line is valid JSON carrying the driver-facing keys") {
    val node = mapper.readTree(worstCaseDigest)
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    assert(node.get("value").isNumber)
    assert(node.get("queries").isObject)
    assert(node.get("queries").size() == Bench.DigestQueries.length)
    assert(node.get("sf").isTextual)
    assert(node.get("truncated").isBoolean)
    assert(node.get("contended").isArray)
    assert(node.get("sf1").size() == Bench.ScaleDigestPicks("sf1").length)
    assert(node.get("sf30").size() == Bench.ScaleDigestPicks("sf30").length)
    assert(node.get("detail").asText() == "bench_out.json")
    assert(node.get("sf100").size() == Bench.ScaleDigestPicks("sf100").length)
    Seq("reps", "reps_completed", "suspect", "no_clean", "errors_n",
      "skipped_n", "heap_mb").foreach(k =>
      assert(node.get(k) != null && node.get(k).isInt, s"$k: ${node.get(k)}"))
    // cross-run drift is not judged in the digest (see the Bench header):
    // no bandwidth probe, reference arrays or divergence lists
    Seq("membw", "divergent", "divergent_n",
      "sf1_ref", "sf30_ref", "sf100_ref").foreach(k =>
      assert(node.get(k) == null, s"removed key $k is back"))
  }

  test("digest with no completed work is still valid minimal JSON") {
    val line = Bench.digestLine(0.0, 5, 0, truncated = false, contended = Nil,
      suspect = 0, noClean = 0, errors = 0, skipped = 0,
      medians = Map.empty, scales = Nil, sfDir = "/root/testdata/sf0.1")
    val node = mapper.readTree(line)
    assert(node.get("queries").size() == 0)
    assert(node.get("reps_completed").asInt() == 0)
  }

  // --- catalog cross-references -------------------------------------------
  // All four name lists below are matched by STRING against the catalog
  // (`catalog.filter(q => names.contains(q.name))`), so a typo'd or stale
  // name silently matches nothing — these tests make that loud.

  private val catalogNames = SparkEntry.catalog.map(_.name).toSet

  test("every correctness gate is in the bench catalog (inclusion invariant)") {
    // The driver's correctness gates are SparkEntry.queries (+oracleSql);
    // the bench runs SparkEntry.catalog. Both derive from the same list
    // today — this pins the contract so a future query can't join one
    // surface and silently skip the other.
    val gates = SparkEntry.oracleSql.keySet
    val missing = gates -- catalogNames
    assert(missing.isEmpty, s"oracled gates absent from bench catalog: $missing")
    assert(SparkEntry.queries.keySet.subsetOf(catalogNames))
  }

  test("sf1 heavy set, sf30 smoke set and digest picks all resolve against the catalog") {
    assert((Bench.HeavyQueries.toSet -- catalogNames).isEmpty)
    assert((Bench.Sf30Queries.toSet -- catalogNames).isEmpty)
    assert((Bench.DigestQueries.toSet -- catalogNames).isEmpty)
    // scale digest picks must be names the section actually RUNS, or the
    // digest would show nulls for queries that were never attempted
    assert((Bench.ScaleDigestPicks("sf1").toSet -- Bench.HeavyQueries.toSet).isEmpty)
    assert((Bench.ScaleDigestPicks("sf30").toSet -- Bench.Sf30Queries.toSet).isEmpty)
    assert((Bench.Sf100Queries.toSet -- catalogNames).isEmpty)
    assert((Bench.ScaleDigestPicks("sf100").toSet -- Bench.Sf100Queries.toSet).isEmpty)
  }

  test("digest headline and scale picks contain no duplicates") {
    assert(Bench.DigestQueries.distinct == Bench.DigestQueries)
    Bench.ScaleDigestPicks.values.foreach(p => assert(p.distinct == p))
  }

  test("catalog has no duplicate gate names (split-aggregator invariant)") {
    // CurationQueries.all is assembled from seven family objects since
    // the round-13 split; a gate accidentally listed in two objects (or
    // twice in the aggregator) would run twice and double-count medians
    val names = SparkEntry.catalog.map(_.name)
    val dupes = names.groupBy(identity).collect { case (n, v) if v.length > 1 => n }
    assert(dupes.isEmpty, s"duplicate gates: $dupes")
  }

  test("/proc/stat host-busy parser: busy excludes idle+iowait, includes steal") {
    // man proc: cpu  user nice system idle iowait irq softirq steal ...
    val line = "cpu  100 20 30 100000 500 3 7 40 0 0"
    assert(Bench.parseHostBusyJiffies(line) == 100L + 20 + 30 + 3 + 7 + 40)
    // short pre-2.6.11 line without a steal field still parses
    assert(Bench.parseHostBusyJiffies("cpu 1 2 3 4 5 6 7") == 1L + 2 + 3 + 6 + 7)
    intercept[IllegalArgumentException] {
      Bench.parseHostBusyJiffies("cpu0 1 2 3 4 5 6 7 8") // per-cpu line, not aggregate
    }
  }

  test("scale suspect causes ride in the digest per section, capped at 2") {
    val worst = mapper.readTree(worstCaseDigest)
    Seq("sf1", "sf30", "sf100").foreach { label =>
      val c = worst.get(s"${label}_suspect_causes")
      assert(c != null && c.size() == 2, s"$label causes: $c")
      assert(c.elements().next().asText() == "child_exit_255")
    }
    val scales = Seq(
      Bench.ScaleSummary("sf100",
        Bench.ScaleDigestPicks("sf100").map(_ -> Option(30.0)),
        contended = false,
        causes = Bench.ScaleDigestPicks("sf100").map(_ -> "ext=3.1")),
      Bench.ScaleSummary("sf1", Seq("q_a" -> Some(1.0)), contended = false))
    val node = mapper.readTree(Bench.digestLine(1.0, 5, 5, truncated = false,
      contended = Nil, suspect = 3, noClean = 0, errors = 0, skipped = 0,
      medians = Map.empty, scales = scales, sfDir = "/tmp/x"))
    val causes = node.get("sf100_suspect_causes")
    assert(causes != null && causes.isObject)
    assert(causes.size() == 2) // 3 caused picks, capped at 2
    assert(causes.elements().next().asText() == "ext=3.1")
    // a section without causes omits the key outright
    assert(node.get("sf1_suspect_causes") == null)
  }

  test("envCause arms: each measured pressure names itself; unavailable (-1) stays clean") {
    def d(ext: Double = 0.1, gc: Double = 0.05, sysC: Double = 0.3) =
      Bench.SampleDiag(ext, gc, sysC)
    assert(Bench.envCause(d()).isEmpty)
    // unavailable counters must never trip an arm
    assert(Bench.envCause(d(ext = -1, gc = -1, sysC = -1)).isEmpty)
    assert(Bench.envCause(d(ext = 33.0)).exists(_.startsWith("ext=")))
    assert(Bench.envCause(d(gc = 0.82)).exists(_.startsWith("gc=")))
    // the round-14 own-process arm: kernel CPU inside this process (the
    // BENCH_HEAP.md first-touch pathology — invisible to the ext arm;
    // 16.2 = the pathological bloom twin's measured value)
    assert(Bench.envCause(d(sysC = 16.2)).exists(_.startsWith("sys=")))
    // when ext and sys both fire, the larger signal names the cause
    // (the injected-pathology sf100 sample: sys=19.3 with ext=2.1)
    assert(Bench.envCause(d(ext = 2.1, sysC = 19.3)).exists(_.startsWith("sys=")))
    assert(Bench.envCause(d(ext = 19.3, sysC = 8.0)).exists(_.startsWith("ext=")))
    // below-threshold values stay clean — including the syscall-heaviest
    // clean sample's measured 6.5-11.3 sys cores (sf1 plain reuse twin,
    // whose six history anti-joins + landings burn ~10.6 sys cores
    // LEGITIMATELY per the committed docs/twinprofile_*.json stage data)
    assert(Bench.envCause(d(gc = 0.4, sysC = 11.3)).isEmpty)
  }

  test("heap-mismatch arm: this 512m-spec JVM vs the 8192mb protocol heap") {
    // sbt test JVMs run well under the committed 8g protocol, so in THIS
    // process the arm must fire and name the actual heap; with the
    // expectation centered on the actual heap it must stay quiet. (The
    // env override is read per call, so the quiet case can't be tested
    // here without forking — the fired case plus the format is the pin.)
    val mb = Runtime.getRuntime.maxMemory / 1048576
    if (mb < 8192 * 0.75 || mb > 8192 * 1.25) {
      val c = Bench.heapMismatchCause
      assert(c.isDefined && c.get == s"heap=${mb}mb", s"got $c for heap $mb")
    } else assert(Bench.heapMismatchCause.isEmpty)
  }

  test("/proc/self/stat round-14 parser: utime/stime separated") {
    // after ')': state ppid pgrp session tty tpgid flags minflt cminflt majflt …
    val tail = "S 1 2 3 4 5 6 77 88 4242 13 1234 567 0 0 20 0 32 0 99"
    val line = s"1 (java (w) x) $tail"
    assert(Bench.parseSelfUtimeStime(line) == (1234L, 567L))
    // the live file must parse on this platform (the arms run here)
    val self = scala.io.Source.fromFile("/proc/self/stat")
    val actual = try self.getLines().next() finally self.close()
    val (u, s) = Bench.parseSelfUtimeStime(actual)
    assert(u >= 0L && s >= 0L)
  }

  test("sf100 per-query partition map resolves against the section's queries") {
    // stretch-7 map (round 18): every override must name a query the
    // sf100 section actually runs, or the child applies nothing and the
    // disclosed map lies
    assert(Bench.Sf100PartitionMap.keySet.subsetOf(Bench.Sf100Queries.toSet),
      s"unknown queries in Sf100PartitionMap: " +
        s"${Bench.Sf100PartitionMap.keySet -- Bench.Sf100Queries.toSet}")
    Bench.Sf100PartitionMap.values.foreach(n => assert(n > 0))
  }

  test("salvage line: appends salvage keys to the last digest; minimal fallback pre-emit") {
    // the shutdown hook's output must parse exactly like a digest, plus
    // the crash evidence (in-flight sample + failure class)
    val withDigest = Bench.salvageLine(worstCaseDigest,
      "sf1:q_dedup_winnow_pairs",
      "java.lang.OutOfMemoryError: Java heap space (thread Executor task launch worker-7)")
    val node = mapper.readTree(withDigest)
    assert(node.get("salvage").asBoolean())
    assert(node.get("in_flight").asText() == "sf1:q_dedup_winnow_pairs")
    assert(node.get("failure").asText().contains("OutOfMemoryError"))
    assert(node.get("metric").asText() == "total") // everything completed survives
    assert(node.get("queries").size() == Bench.DigestQueries.length)
    // death before the FIRST emit still yields a valid parsed line
    val minimal = mapper.readTree(Bench.salvageLine(null, null, null))
    assert(minimal.get("salvage").asBoolean())
    assert(minimal.get("failure").asText() == "abnormal_exit")
    assert(minimal.get("reps_completed").asInt() == 0)
    // a failure message with quotes/newlines must not corrupt the JSON
    val quoted = mapper.readTree(Bench.salvageLine(null,
      "pass1:\"weird\"", "assertion failed:\n\t\"unroll\""))
    assert(quoted.get("failure").asText().contains("unroll"))
  }

  test("section file codec: (fragment, summary) round-trips; torn input yields None") {
    val frag = ""","sf1":{"q_a":1.234,"q_b":null},"sf1_contended":false,"sf1_dir":"/tmp/x""""
    val sum = Bench.ScaleSummary("sf1",
      Seq("q_a" -> Some(1.234), "q_b" -> None),
      contended = true,
      causes = Seq("q_a" -> "ext=3.1", "sf1:q_b" -> "oom_child"))
    val decoded = Bench.decodeSection(Bench.encodeSection(frag, sum))
    assert(decoded.contains((frag, sum)))
    // empty results/causes round-trip too (a death before the first sample)
    val empty = Bench.ScaleSummary("sf100", Nil, contended = false)
    assert(Bench.decodeSection(Bench.encodeSection(""","sf100":{}""", empty))
      .contains((""","sf100":{}""", empty)))
    assert(Bench.decodeSection("").isEmpty)
    assert(Bench.decodeSection("FRAG\t,half a line").isEmpty) // no SUM
    assert(Bench.decodeSection("garbage\nlines\n").isEmpty)
  }

  test("/proc/self/stat parser: utime+stime counted from after the LAST ')'") {
    // comm may contain spaces AND parentheses — fields count from the
    // final ')'; utime/stime are 1-based fields 14/15 (11/12 after state)
    val tail = "S 1 2 3 4 5 6 7 8 9 10 1234 567 0 0 20 0 32 0 99"
    val line = s"4242 (java (weird) name) $tail"
    assert(Bench.parseSelfJiffies(line) == 1234L + 567)
    // the live file must parse on this platform (the bench runs here)
    val self = scala.io.Source.fromFile("/proc/self/stat")
    val actual = try self.getLines().next() finally self.close()
    assert(Bench.parseSelfJiffies(actual) >= 0L)
    val stat = scala.io.Source.fromFile("/proc/stat")
    val cpuLine = try stat.getLines().next() finally stat.close()
    assert(Bench.parseHostBusyJiffies(cpuLine) > 0L)
  }
}
