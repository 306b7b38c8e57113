package graft.queries

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Local-filesystem cleanup shared by the query layer: the throwaway
  * lakes of the e2e rows, the streaming verdict store and the corpus
  * table store.
  */
private[graft] object LocalFs {

  /** Delete `root` and everything under it, deepest first. Best effort,
    * never throws: a missing root is a no-op and a path that cannot be
    * deleted is skipped, so cleanup cannot fail the query that owns it.
    */
  def deleteTree(root: Path): Unit =
    try scala.util.Using.resource(Files.walk(root))(_.sorted(Comparator.reverseOrder[Path]())
      .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () }))
    catch { case _: Exception => () }
}
