package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pagination-driven collection — `collect_all_for_portal`
  * (application/servico_coleta_noticias.py: walk listing pages until a
  * page contributes nothing new, bounded by max_pages).
  *
  * Pagination is inherently sequential (page N+1's existence depends
  * on page N), so the LOOP lives on the driver — but each page payload
  * is a distributed DataFrame and the new-vs-seen check is a
  * distributed anti-join; nothing row-level ever touches the driver.
  *
  * Each page is FETCHED EXACTLY ONCE: the fetch is eagerly
  * materialized before anything consumes it, the fresh rows are
  * materialized once before being counted and buffered, and the seen
  * key set is re-checkpointed per page so its lineage never re-executes
  * earlier fetches. (The naive form — an iterative union re-evaluated
  * by every later page's count and anti-join — re-fetches O(P^2) pages
  * against the remote portal.)
  */
object Collector {

  /** Result of a collection sweep. */
  final case class Sweep(articles: DataFrame, pagesFetched: Int, totalNew: Long)

  /** Fetch pages `startPage..` until one adds no new keys (or maxPages).
    *
    * @param fetchPage  page number -> raw article DataFrame (empty DF
    *                   when the portal has no such page)
    * @param keyCols    identity columns (the (portal_name, url) index)
    */
  def collectAll(fetchPage: Int => DataFrame, keyCols: Seq[String],
                 startPage: Int = 1, maxPages: Int = 100): Sweep = {
    val fresh = mutable.Buffer.empty[DataFrame]
    var seenKeys: Option[DataFrame] = None
    var page = startPage
    var totalNew = 0L
    var done = false
    while (!done && fresh.size < maxPages) {
      // materialize the fetch once; every later use reads the checkpoint
      val batch = Dedup.stage(fetchPage(page), eager = true)
      val newRows = Dedup.stage(
        seenKeys.fold(batch)(batch.join(_, keyCols, "left_anti")), eager = true)
      Dedup.release(batch)
      // the same count the reference logs as "N novas" — served from the
      // materialized checkpoint, no recompute
      val nNew = newRows.count()
      if (nNew == 0) { done = true; Dedup.release(newRows) }
      else {
        fresh += newRows
        totalNew += nNew
        val pageKeys = newRows.select(keyCols.map(col): _*).distinct()
        // truncate lineage every page; the previous key set is released
        val keys = Dedup.stage(seenKeys.fold(pageKeys)(_.unionByName(pageKeys)), eager = true)
        seenKeys.foreach(Dedup.release(_))
        seenKeys = Some(keys)
        page += 1
      }
    }
    seenKeys.foreach(Dedup.release(_))
    val out = fresh.reduceOption(_.unionByName(_))
      .getOrElse(fetchPage(startPage).limit(0))
    Sweep(out, fresh.size, totalNew)
  }
}
