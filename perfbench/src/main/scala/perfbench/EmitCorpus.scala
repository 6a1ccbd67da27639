package perfbench

/** Writes the search corpus to a directory, for confirming the pinned
  * result digests against the oracle (README.md, "Pinned digests").
  */
object EmitCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: EmitCorpus <dir>")
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors(), "perfbench-corpus")
    try Corpus.write(spark, args(0)) finally spark.stop()
  }
}
