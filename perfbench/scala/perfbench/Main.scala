package perfbench

/** Benchmark entry: `Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --work DIR`. Prints the result object as the last line,
  * with the output directories run.py still checks (verify.py).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val r = a.workload match {
      case "synonymizer_lookup" => new LookupBench(a).run()
      case "drugbank_text" | "drugbank_ids" => new PipelineBench(a).run()
      case w => sys.error(s"unknown workload $w")
    }
    println(r.json)
  }
}
