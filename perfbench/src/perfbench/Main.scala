package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark process: runs one workload and writes its raw record.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <file> --cores <n>
  * }}}
  */
object Main {
  val Workloads: Map[String, Harness => Unit] = Map(
    "census_batch" -> Census.run,
    "live_feed" -> Live.run,
    "curate" -> Curate.run)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Settings(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a("out"), a("cores").toInt)
    val run = Workloads.getOrElse(cfg.workload,
      throw new IllegalArgumentException(s"unknown workload ${cfg.workload}"))
    val h = new Harness(cfg)
    try {
      run(h)
      h.sampleHeap()
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(cfg.out), h.record())
    } finally h.close()
  }
}
