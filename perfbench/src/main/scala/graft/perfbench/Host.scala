package graft.perfbench

/** Host record for a set of runs: core count and the engine's own CPU
  * and memory-bandwidth probes (seconds for a fixed amount of work at
  * `cpus` threads; lower is a faster or less contended host). */
object Host {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cpus = args.headOption.map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val rec = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> cpus,
      "cpu_probe_s" -> graft.Bench.cpuProbe(cpus),
      "mem_probe_s" -> graft.Bench.memProbe(cpus))
    println(Json(rec))
  }
}
