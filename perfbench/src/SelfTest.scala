package perfbench

/** The benchmark's own test: every workload's generator gives the same
  * fingerprint for the same seed and a different one for another seed at
  * the same sizes. Runs without a Spark session.
  */
object SelfTest {
  def run(): Unit = {
    val failures = Main.Workloads.toSeq.sortBy(_._1).flatMap { case (name, make) =>
      val a = make().generate(7L)
      val b = make().generate(7L)
      val c = make().generate(8L)
      println(s"selftest $name seed7=$a seed7=$b seed8=$c")
      (if (a != b) Seq(s"$name: seed 7 gave two fingerprints") else Nil) ++
        (if (a == c) Seq(s"$name: seeds 7 and 8 gave one fingerprint") else Nil)
    }
    failures.foreach(f => System.err.println(s"selftest FAILED $f"))
    if (failures.nonEmpty) sys.exit(1)
    println("selftest OK")
  }
}
