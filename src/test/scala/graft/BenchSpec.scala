package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure pieces, without Spark: the BenchLeg stdout decoder, the
  * interleaved-pair pick and the N -> 4N core rule. */
class BenchSpec extends AnyFunSuite {

  private def leg(sec: Double, fallback: Boolean = false): Leg =
    Leg(Seq(LegRun(sec, 0L, 0L, 0L, 0L)), Seq.empty, 1L, fallback)

  test("decode reads every per-run array of a full child output, log noise around it") {
    val out =
      """26/10/19 12:00:00 WARN SparkSession: Using an existing Spark session
        |LEG_RUNS=1.250,1.100,1.300
        |LEG_GC=40,35,52
        |LEG_CPU=4100,3900,4300
        |LEG_TASKMED=120,110,130
        |LEG_TASKMAX=400,380,410
        |LEG_CANARY=1065,1070
        |LEG_OK=15850
        |""".stripMargin
    val l = BenchLeg.decode(out)
    assert(l.runs == Seq(
      LegRun(1.25, 40, 4100, 120, 400),
      LegRun(1.1, 35, 3900, 110, 380),
      LegRun(1.3, 52, 4300, 130, 410)))
    assert(l.canaryMs == Seq(1065L, 1070L))
    assert(l.ok == 15850L)
    assert(!l.fallback)
    assert(l.mid == 0 && l.sec == 1.25)
    assert(l.json == """{"sec":1.250,"cpu_ms":4100,"gc_ms":40,"task_ms_median":120,""" +
      """"task_ms_max":400,"canary_ms":[1065,1070],"fallback":false}""")
  }

  test("decode of encode is the identity") {
    val l = Leg(Seq(LegRun(2.5, 1, 2, 3, 4), LegRun(0.125, -1, -1, 0, 0)), Seq(900L, 950L), 7L)
    assert(BenchLeg.decode("noise\n" + BenchLeg.encode(l) + "\nmore noise") == l)
  }

  test("a truncated child output reads -1 for every array it never printed") {
    val l = BenchLeg.decode("LEG_RUNS=2.000,1.000\nLEG_GC=10,11\nLEG_CPU=5\n")
    assert(l.runs == Seq(LegRun(2.0, 10, 5, -1, -1), LegRun(1.0, 11, -1, -1, -1)))
    assert(l.canaryMs.isEmpty)
    assert(l.ok == -1L)
    assert(BenchLeg.decode("java.lang.OutOfMemoryError").runs.isEmpty)
  }

  test("LEG_OK and LEG_CANARY decode on their own") {
    val l = BenchLeg.decode("LEG_CANARY=1200,-1\nLEG_OK=42\n")
    assert(l.runs.isEmpty)
    assert(l.canaryMs == Seq(1200L, -1L))
    assert(l.ok == 42L)
  }

  test("the median run is picked by (wall, index), so ties keep their position") {
    val l = Leg(Seq(3.0, 1.0, 1.0, 2.0, 1.0).map(LegRun(_, 0, 0, 0, 0)), Seq.empty, 0L)
    // sorted (sec, index): (1,1) (1,2) (1,4) (2,3) (3,0) -> middle is run 4
    assert(l.mid == 4)
  }

  test("pickPair takes the middle ratio of an odd pool") {
    val pairs = Seq(3.0, 1.0, 2.0).map(r => (leg(r), leg(1.0)))
    assert(Bench.pickPair(pairs) == pairs(2))
  }

  test("pickPair drops fallback pairs, then takes the LOWER ratio of an even pool") {
    val pairs = Seq(
      (leg(4.0), leg(1.0)),
      (leg(9.0, fallback = true), leg(1.0)),
      (leg(2.0), leg(1.0)),
      (leg(0.5), leg(1.0, fallback = true)))
    assert(Bench.pickPair(pairs) == pairs(2))
  }

  test("pickPair falls back to the whole pool when every pair fell back") {
    val pairs = Seq(5.0, 1.0, 3.0).map(r => (leg(r, fallback = true), leg(1.0)))
    assert(Bench.pickPair(pairs) == pairs(2))
  }

  test("the scaling pair is lo = cpus / 4 and hi = 4 lo, or none below 4 cores") {
    assert(Bench.scalingPair(4) == Some((1, 4)))
    assert(Bench.scalingPair(32) == Some((8, 32)))
    assert(Bench.scalingPair(6) == Some((1, 4)))
    assert(Bench.scalingPair(2).isEmpty)
  }
}
