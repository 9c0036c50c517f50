package graft.perfbench

/** The three workloads and their input sizes (full, and tiny for the
  * self-test). `model` is the scoring model `tlc_batch` uses instead of
  * fitting one in its set-up. */
object Workloads {
  def make(name: String, r: Run, tiny: Boolean, model: Option[String]): Workload = name match {
    case "tlc_batch" => tlc(r, tiny, model)
    case "table_dml" =>
      if (tiny) new TableDml(r, rows = 20000L, batch = 400L)
      else new TableDml(r, rows = 500000L, batch = 5000L)
    case "log_scale" =>
      if (tiny) new LogScale(r, buildFiles = 2000, buildCommits = 20, perCommit = 10)
      else new LogScale(r, buildFiles = 100000, buildCommits = 10, perCommit = 100)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def tlc(r: Run, tiny: Boolean, model: Option[String]): TlcBatch =
    new TlcBatch(r, rows = if (tiny) 20000L else 100000L, trainRows = 1000, model)
}
