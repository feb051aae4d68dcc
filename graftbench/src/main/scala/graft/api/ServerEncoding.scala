package graft.api

import org.apache.spark.sql.DataFrame

/** The server's own packing of block rows into wire `BlockInfo`s is
  * package-private; the traced replay encodes binary responses with it,
  * so that `api.encode` times the same work the server does.
  */
object ServerEncoding {
  def blockInfos(df: DataFrame): Seq[BinaryProtocol.BlockInfo] = CliServer.blockInfos(df)
}
