package perfbench

import java.nio.file.Paths

/** Prints perfbench/pinned.tsv lines — workload, seed, the outputs of one
  * rep — for every workload and each seed in [from, to]
  * (`python3 perfbench/pin.py FROM TO` runs it). A rep whose outputs differ
  * from its workload's reference is reported and fails the tool instead of
  * being pinned. */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(workDirArg, from, to) = args
    val workDir = Paths.get(workDirArg).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(nproc, workDir)
    var ok = true
    try {
      for (w <- Main.Workloads; seed <- from.toLong to to.toLong) {
        val dir = workDir.resolve(s"${w.name}-$seed")
        val prepared = w.prepare(Ctx(spark, seed, nproc, dir, new Spans("pin")))
        val got = prepared.rep(None).outputs
        val want = prepared.expected()
        prepared.release()
        CrawlBench.deleteTree(dir)
        if (got == want) println(s"${w.name}\t$seed\t$got")
        else {
          ok = false
          System.err.println(s"${w.name} seed $seed: produced [$got], " +
            s"reference outputs are [$want]")
        }
      }
    } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
