package graft

/** The benchmark's view of `graft.Bench`'s host-load sampling: the same
  * /proc/stat foreign-CPU sampler and host CPU count the engine's own
  * bench uses. Both are `private[graft]`, hence this file's package.
  */
object HostLoad {
  def cpus: Int = Bench.hostCpus()

  /** Samples foreign cores every `periodMs` from construction on. */
  final class Sampler(periodMs: Long) {
    private val s = new Bench.ForeignLoadSampler(periodMs)

    /** Stop and return (mean, peak) foreign cores; (0, 0) without samples. */
    def finish(): (Double, Double) = {
      val v = s.finish()
      if (v.isEmpty) (0.0, 0.0) else (v.sum / v.size, v.max)
    }
  }
}
