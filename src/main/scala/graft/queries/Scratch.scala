package graft.queries

import graft.sources.ManifestTable

/** Per-face scratch directories. `dir(tag, dataDir)` names
  * `<java.io.tmpdir>/graft_<tag>_<hex(dataDir.hashCode)>_p<pid>`: the PID
  * keeps two concurrent JVMs (bench + correctness run) from sharing an
  * overwrite-vs-read directory. Each call sweeps siblings left by dead
  * PIDs (crashed runs) and the exact-name directory of the pre-PID
  * scheme, registers this JVM's own directory for removal at exit (the
  * faces return frames that read it lazily, so not before), and removes
  * it now: the caller always gets a path that does not exist, so repeated
  * runs build the same state and never accumulate one copy per process. */
private[queries] object Scratch {
  private val registered = scala.collection.mutable.Set.empty[String]

  def dir(tag: String, dataDir: String): String = synchronized {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val name = s"graft_${tag}_${Integer.toHexString(dataDir.hashCode)}"
    val own = new java.io.File(tmp, s"${name}_p${ProcessHandle.current().pid()}")
    def dead(f: java.io.File): Boolean =
      f.getName.stripPrefix(name + "_p").toLongOption
        .exists(p => !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
    Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.getName == name || (f.getName.startsWith(name + "_p") && dead(f)))
      .foreach(f => scala.util.Try(ManifestTable.rmTree(f)))
    if (registered.add(own.getPath))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        scala.util.Try(ManifestTable.rmTree(own)): Unit))
    ManifestTable.rmTree(own)
    own.getPath
  }
}
