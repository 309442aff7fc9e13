package graft.perfbench

/** Self-tests of the benchmark's reference code (no Spark, no program
  * code). Run with `python3 perfbench/run.py --self-test`; exits non-zero
  * when a test fails.
  */
object SelfTest {
  private var failures = 0
  private var total = 0

  private def test(name: String)(body: => Unit): Unit = {
    total += 1
    try { body; println(s"ok    $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL  $name: $e") }
  }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  private def b(s: String) = s.getBytes("UTF-8")

  def main(args: Array[String]): Unit = {
    // FIXTURES.md §4 table
    test("xor-fold: empty field, seed 7, n 10 -> 7")(eq(Reference.xorFold(b(""), 7, 10), 7))
    test("xor-fold: 'a', seed 0, n 16 -> 1")(eq(Reference.xorFold(b("a"), 0, 16), 1))
    test("xor-fold: 'ab', seed 0, n 16 -> 3")(eq(Reference.xorFold(b("ab"), 0, 16), 3))
    test("xor-fold: 'Machine7', seed 17, n 8 -> 99 % 8 = 3") {
      val folded = "Machine7".foldLeft(17)((h, c) => h ^ c.toInt)
      eq(Reference.xorFold(b("Machine7"), 17, 8), folded % 8)
      eq(folded, 99)
      eq(folded % 8, 3)
    }
    test("xor-fold: at most 256 distinct values for any n") {
      eq((0 until 4096).map(i => Reference.xorFold(b(s"k$i"), 0, 1 << 20)).distinct.forall(_ < 256), true)
    }

    // FIXTURES.md §3 field extraction
    test("csv field: plain, quoted, escaped quote, empty, missing") {
      def f(line: String, i: Int) = Reference.csvField(b(line), i).map(new String(_, "UTF-8"))
      eq(f("a,b,c", 1), Some("b"))
      eq(f("a,\"b,x\",c", 1), Some("\"b,x\""))
      eq(f("a,\"b\"\"x\",c", 1), Some("\"b\"\"x\""))
      eq(f("a,,c", 1), Some(""))
      eq(f("a,b,c", 5), None)
    }

    // the tail-percentile rule
    test("tail: fewer than 20 samples have no tail at or above the median") {
      eq(Reference.tail((1 to 19).map(_.toDouble)), None)
    }
    test("tail: 20 samples -> p50, the 10th, with exactly 10 beyond") {
      val t = Reference.tail((1 to 20).map(_.toDouble).reverse).get
      eq((t.value, t.percentile, t.beyond, t.n), (10.0, 50.0, 10, 20))
    }
    test("tail: 100 samples -> p90, 1000 samples -> p99") {
      val t100 = Reference.tail((1 to 100).map(_.toDouble)).get
      eq((t100.value, t100.percentile), (90.0, 90.0))
      val t1000 = Reference.tail((1 to 1000).map(_.toDouble)).get
      eq((t1000.value, t1000.percentile), (990.0, 99.0))
    }
    test("tail: a failed call (infinite latency) lands beyond the figure") {
      val xs = (1 to 20).map(_.toDouble) :+ Double.PositiveInfinity
      eq(Reference.tail(xs).get.value, 11.0)
    }
    test("median: odd and even counts") {
      eq(Reference.median(Seq(3.0, 1.0, 2.0)), 2.0)
      eq(Reference.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5)
    }

    println(s"${total - failures} of $total self-tests passed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
