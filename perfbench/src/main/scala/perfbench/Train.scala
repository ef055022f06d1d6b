package perfbench

/** The build's class-data-sharing training run: one step of each named
  * workload in one JVM, so that the archive the JVM writes at exit
  * (`-XX:ArchiveClassesAtExit`) holds the classes every run loads.
  *
  * `Train <src-dir> <run-dir> <cpus> <workload>...` */
object Train {
  def main(argv: Array[String]): Unit = {
    val Array(srcDir, runDir, cpus) = argv.take(3)
    argv.drop(3).foreach { w =>
      Main.main(Array("--workload", w, "--seed", "0", "--seconds", "0.001",
        "--trace", "0", "--src-dir", srcDir, "--run-dir", s"$runDir/$w",
        "--cpus", cpus))
    }
  }
}
