package perfbench

/** Checks the lookup verifier itself: real answers pass, and an answer
  * with one row altered is rejected, for every operation.
  *
  * Usage: SelfTest <lookup data dir> <work dir>. Exits 0 only when every
  * case behaves; tests/test_perfbench.py runs it.
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val Array(data, work) = argv
    val cases = new LookupBench(
      Args("synonymizer_lookup", 0, 0, trace = false, data, work)).selfTest()
    cases.toSeq.sorted.foreach { case (what, ok) =>
      println(s"${if (ok) "ok  " else "FAIL"} $what")
    }
    if (cases.values.exists(!_)) sys.exit(1)
  }
}
