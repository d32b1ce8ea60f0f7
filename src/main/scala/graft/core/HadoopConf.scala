package graft.core

import org.apache.hadoop.conf.Configuration

/** The JVM's one Hadoop [[Configuration]] for this layer's own file-system
  * calls (spec validation and [[OutputSink]], on the driver and in its
  * tasks). Building a `Configuration` re-parses `core-default.xml`, about
  * 8 ms warm: made per input file or per output task, that outweighed the
  * calls themselves. Never mutated — a caller that needs private settings
  * takes a copy, `new Configuration(shared)`.
  */
private[core] object HadoopConf {
  lazy val shared: Configuration = new Configuration()
}
