package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops.Caching
import graft.sim.Similarity
import Common._

/** Media rows over the deterministic media fixtures built from `documents`:
  * decoders, perceptual near-dups, media ingest and curation. */
private[queries] object MediaQueries {

  /** q224's cross-format still-image fixture over `dd(doc_id, g)`: dims
    * `dm`, pixel rows `px`, and `$v`(`cols`, val, bx, by) = each pixel's
    * planted gray and its 8x8 dHash block. */
  private def stillImageCtes(v: String, cols: String = "doc_id"): String =
    "dm AS (SELECT doc_id, g, " +
      "CAST(16 + (g % 5) * 4 AS BIGINT) AS w, " +
      "CAST(12 + ((g * 3) % 5) * 4 AS BIGINT) AS h FROM dd), " +
      "px AS (SELECT doc_id, g, w, h, unnest(range(w * h)) AS k FROM dm), " +
      s"$v AS (SELECT $cols, " +
      "(g*29 + (k % w)*(3 + (g % 7) * 9) + (k // w)*(2 + (g % 5) * 7)) % 256 AS val, " +
      "((k % w) * 8) // w AS bx, ((k // w) * 8) // h AS by FROM px)"

  /** The 56-bit dHash over 8x8 block means `m(doc_id, bx, by, mean)`:
    * `bits` = bit by*7+bx set iff a block is darker than its right
    * neighbour, and `fp` = their sum as column `h` for every row of `keys`.
    * `fp` is the CTE head, `fp AS MATERIALIZED` where a closure rescans it. */
  private def dhashCtes(fp: String, keys: String, h: String): String =
    "bits AS (SELECT l.doc_id, l.by * 7 + l.bx AS j FROM m l " +
      "JOIN m r ON l.doc_id = r.doc_id AND r.by = l.by AND r.bx = l.bx + 1 " +
      "WHERE l.mean < r.mean), " +
      s"$fp (SELECT $keys.doc_id, coalesce(sum(CAST(1 AS BIGINT) << " +
      s"CAST(j AS INTEGER)), 0) AS $h FROM $keys " +
      s"LEFT JOIN bits ON $keys.doc_id = bits.doc_id GROUP BY 1)"

  /** [[dhashCtes]] over a pixel table `v(doc_id, val, bx, by)` keyed by `dm`:
    * `m` = the floor block means, `fp(doc_id, dhash)`. */
  private def stillDhashCtes(fp: String): String =
    "m AS (SELECT doc_id, bx, by, sum(val) // count(*) AS mean " +
      "FROM v GROUP BY 1, 2, 3), " + dhashCtes(fp, "dm", "dhash")

  /** Brute-force pairs of `fp` rows whose `h` prints differ in <= 3 bits.
    * Ends the query. */
  private def hammingPairsSql(h: String): String =
    "SELECT x.doc_id AS media_a, y.doc_id AS media_b, " +
      s"CAST(bit_count(xor(x.$h, y.$h)) AS INTEGER) AS hamming " +
      "FROM fp x JOIN fp y ON x.doc_id < y.doc_id " +
      s"WHERE bit_count(xor(x.$h, y.$h)) <= 3"

  /** q220's planted near-dup audio fixture over `dd(doc_id, g, role)`:
    * lengths `dm`, sample rows `$s`, absolute PCM16 values `v` and the 57
    * window energies `e(doc_id, wdx, energy)`. */
  private def audioEnergyCtes(s: String): String =
    "dm AS (SELECT doc_id, g, role, " +
      "CAST(128 + (g % 64) * 4 AS BIGINT) AS n FROM dd), " +
      s"$s AS (SELECT doc_id, g, role, n, unnest(range(n)) AS p FROM dm), " +
      "v AS (SELECT doc_id, (p * 57) // n AS wdx, " +
      "abs(CASE WHEN role = 2 THEN ((g*41 + p*13 + 999) % 4096) - 2048 " +
      "WHEN role = 1 AND p % 101 = 0 " +
      "THEN ((g*17 + p*5) % 4096) - 2048 + 7 " +
      s"ELSE ((g*17 + p*5) % 4096) - 2048 END) AS av FROM $s), " +
      "e AS (SELECT doc_id, wdx, sum(av) AS energy FROM v GROUP BY 1, 2)"

  /** The 56-bit energy-contour print over `e(doc_id, wdx, energy)`: bit j
    * set iff window j+1 is louder, summed into `fp(doc_id, afp)` for every
    * `dm` row. `fp` is the CTE head as in [[dhashCtes]]. */
  private def audioPrintCtes(fp: String): String =
    "bits AS (SELECT l.doc_id, l.wdx AS j FROM e l " +
      "JOIN e r ON l.doc_id = r.doc_id AND r.wdx = l.wdx + 1 " +
      "WHERE r.energy > l.energy), " +
      s"$fp (SELECT dm.doc_id, coalesce(sum(CAST(1 AS BIGINT) << " +
      "CAST(j AS INTEGER)), 0) AS afp FROM dm " +
      "LEFT JOIN bits ON dm.doc_id = bits.doc_id GROUP BY 1)"

  /** q226's 88-dim content descriptors of the [[stillImageCtes]] fixture:
    * 3 x 8 channel-histogram dims, then the 64 gray block means, as
    * `fl(doc_id, dim, v)`. */
  private def imageDescriptorCtes: String =
    s"${stillImageCtes("vv")}, " +
      "hh AS (SELECT doc_id, val // 32 AS b8, count(*) AS cnt FROM vv GROUP BY 1, 2), " +
      "hd AS (SELECT doc_id, c * 8 + b8 AS dim, CAST(cnt AS DOUBLE) AS v " +
      "FROM hh CROSS JOIN (VALUES (0), (1), (2)) AS ch(c)), " +
      "mm AS (SELECT doc_id, bx, by, sum(val) // count(*) AS mean " +
      "FROM vv GROUP BY 1, 2, 3), " +
      "gd AS (SELECT doc_id, 24 + by * 8 + bx AS dim, CAST(mean AS DOUBLE) AS v FROM mm), " +
      "sc88 AS (SELECT doc_id, unnest(range(88)) AS dim FROM dm), " +
      "fl AS (SELECT sc88.doc_id, sc88.dim, coalesce(u.v, 0.0) AS v " +
      "FROM sc88 LEFT JOIN (SELECT * FROM hd UNION ALL SELECT * FROM gd) u " +
      "ON sc88.doc_id = u.doc_id AND sc88.dim = u.dim)"

  /** q28's brute-force cosine top-3 over descriptors `dsc(doc_id, vec)`
    * for probes doc_id < 10. Ends the query. */
  private def descriptorTopKSql: String =
    "s AS (SELECT p.doc_id AS probe_id, c.doc_id AS neighbor_id, " +
      s"${cosSql("p.vec", "c.vec")} AS cos_sim " +
      "FROM dsc p JOIN dsc c ON p.doc_id < 10 AND p.doc_id != c.doc_id), " +
      "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id " +
      "ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn FROM s) " +
      "SELECT probe_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 3"

  /** [[Common.closureCte]] over an `edges(a, b)` pair set, with
    * `compmap(n, mn)` = each linked node's component minimum. */
  private def edgeComponentCtes: String =
    "bi AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges), " +
      s"$closureCte, " +
      "compmap AS (SELECT n, min(m) AS mn FROM r GROUP BY n)"

  /** q229's two-batch admission over `fp` and [[edgeComponentCtes]] on
    * same-parity edges: batch-1 (even) canonicals admit, batch-2 (odd)
    * canonicals drop on any print `h` within Hamming 3 of an admitted
    * batch-1 row; `adm(doc_id)` = the landed rows. */
  private def admitCtes(h: String): String =
    "lab AS (SELECT fp.doc_id, " +
      "least(fp.doc_id, coalesce(mn, fp.doc_id)) AS cid " +
      "FROM fp LEFT JOIN compmap ON fp.doc_id = compmap.n), " +
      "a1 AS (SELECT doc_id FROM lab WHERE doc_id % 2 = 0 AND cid = doc_id), " +
      "c2 AS (SELECT doc_id FROM lab WHERE doc_id % 2 = 1 AND cid = doc_id), " +
      "rej AS (SELECT DISTINCT c2.doc_id FROM c2 " +
      "JOIN fp f2 ON c2.doc_id = f2.doc_id " +
      "CROSS JOIN a1 JOIN fp f1 ON a1.doc_id = f1.doc_id " +
      s"WHERE bit_count(xor(f2.$h, f1.$h)) <= 3), " +
      "adm AS (SELECT doc_id FROM a1 UNION ALL " +
      "SELECT c2.doc_id FROM c2 LEFT JOIN rej USING (doc_id) " +
      "WHERE rej.doc_id IS NULL)"

  /** q231's planted near-dup video fixture over `dd(doc_id, g, role)`:
    * dims `dm` and one `$frames`(doc_id, g, role, w, h, f) row per frame. */
  private def videoFrameCtes(frames: String): String =
    "dm AS (SELECT doc_id, g, role, " +
      "CAST(12 + (g % 5) * 4 AS BIGINT) AS w, " +
      "CAST(8 + ((g * 3) % 4) * 4 AS BIGINT) AS h, " +
      "CAST(4 + g % 3 AS BIGINT) AS nf FROM dd), " +
      s"$frames AS (SELECT doc_id, g, role, w, h, unnest(range(nf)) AS f FROM dm)"

  /** Pixel rows `px` of [[videoFrameCtes]]' `frames` and `v(doc_id, f, val,
    * bx, by)` = each pixel's planted gray and its 8x8 dHash block. */
  private def videoPixelCtes(frames: String): String =
    "px AS (SELECT doc_id, g, role, w, h, f, " +
      s"unnest(range(w * h)) AS k FROM $frames), " +
      "v AS (SELECT doc_id, f, " +
      "CASE WHEN role = 2 THEN (g*53 + f*11 + (k % w)*(5 + (g * 17) % 239) + " +
      "(k // w)*(3 + (g * 11) % 233) + 128) % 256 " +
      "WHEN role = 1 AND k % 97 = 0 " +
      "THEN ((g*29 + f*17 + (k % w)*(3 + (g * 13) % 251) + " +
      "(k // w)*(2 + (g * 7) % 241)) % 256 + 4) % 256 " +
      "ELSE (g*29 + f*17 + (k % w)*(3 + (g * 13) % 251) + " +
      "(k // w)*(2 + (g * 7) % 241)) % 256 END AS val, " +
      "((k % w) * 8) // w AS bx, ((k // w) * 8) // h AS by FROM px)"

  /** The video fixture sampled at every 2nd frame (`sf2`), with its pixels. */
  private def sampledVideoCtes: String =
    videoFrameCtes("sf") + ", " +
      "sf2 AS (SELECT * FROM sf WHERE f % 2 = 0), " +
      videoPixelCtes("sf2")

  /** `m(doc_id, f, bx, by, mean)`: per-frame floor block means of `v`. */
  private def frameMeansCte: String =
    "m AS (SELECT doc_id, f, bx, by, sum(val) // count(*) AS mean " +
      "FROM v GROUP BY 1, 2, 3, 4)"

  /** The per-frame form of [[dhashCtes]] over `m`: `fp(doc_id, f, dh)` for
    * every row of `frames`. */
  private def frameDhashCtes(frames: String): String =
    "bits AS (SELECT l.doc_id, l.f, l.by * 7 + l.bx AS j FROM m l " +
      "JOIN m r ON l.doc_id = r.doc_id AND l.f = r.f AND r.by = l.by " +
      "AND r.bx = l.bx + 1 WHERE l.mean < r.mean), " +
      s"fp AS MATERIALIZED (SELECT $frames.doc_id, $frames.f, " +
      "coalesce(sum(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0) AS dh " +
      s"FROM $frames LEFT JOIN bits ON $frames.doc_id = bits.doc_id " +
      s"AND $frames.f = bits.f GROUP BY 1, 2)"

  /** Shared-frame matches over the sampled `fp`: `cnt` = sampled frames
    * per video, `pm$sfx` = frame pairs within Hamming 3, `agg$sfx` =
    * distinct matched frames per video pair. */
  private def frameMatchCtes(sfx: String): String =
    "cnt AS (SELECT doc_id, count(*) AS n FROM sf2 GROUP BY 1), " +
      s"pm$sfx AS (SELECT x.doc_id AS ma, y.doc_id AS mb, x.f AS fa, y.f AS fb " +
      "FROM fp x JOIN fp y ON x.doc_id < y.doc_id " +
      "WHERE bit_count(xor(x.dh, y.dh)) <= 3), " +
      s"agg$sfx AS (SELECT ma, mb, count(DISTINCT fa) AS matched_a, " +
      s"count(DISTINCT fb) AS matched_b FROM pm$sfx GROUP BY 1, 2)"

  /** Video pairs whose shared frames cover >= half of both sides, over
    * `frameMatchCtes("b")`. Ends the query. */
  private def videoPairSql: String =
    "SELECT ma AS media_a, mb AS media_b, " +
      "CAST(matched_a AS BIGINT) AS matched_a, " +
      "CAST(matched_b AS BIGINT) AS matched_b, " +
      "least(matched_a / ca.n, matched_b / cb.n) AS match_frac " +
      "FROM aggb JOIN cnt ca ON aggb.ma = ca.doc_id " +
      "JOIN cnt cb ON aggb.mb = cb.doc_id " +
      "WHERE least(matched_a / ca.n, matched_b / cb.n) >= 0.5"

  /** The q276/q285 replay: one quadratic frame formula for both members of
    * each doc_id/2 pair, whatever animation container carries it. */
  private def animatedPairVideoSql: String =
    "WITH dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
      "dm AS (SELECT doc_id, g, " +
      "CAST(8 + (g % 5) * 2 AS BIGINT) AS w, " +
      "CAST(8 + ((g * 3) % 4) * 2 AS BIGINT) AS h, " +
      "CAST(2 + g % 2 AS BIGINT) AS nf FROM dd), " +
      "sf AS (SELECT doc_id, g, w, h, unnest(range(nf)) AS f FROM dm), " +
      "sf2 AS (SELECT * FROM sf WHERE f % 2 = 0), " +
      "px AS (SELECT doc_id, g, w, h, f, " +
      "unnest(range(w * h)) AS k FROM sf2), " +
      "v AS (SELECT doc_id, f, " +
      "(g*37 + f*(11 + (g * 17) % 97) + (k % w)*(k % w)*(4 + (g % 11) * 5) + " +
      "(k // w)*(k // w)*(3 + (g % 13) * 3) + " +
      "(k % w)*(k // w)*(2 + (g % 7) * 9)) % 256 AS val, " +
      "((k % w) * 8) // w AS bx, ((k // w) * 8) // h AS by FROM px), " +
      s"$frameMeansCte, ${frameDhashCtes("sf2")}, " +
      s"${frameMatchCtes("b")} " +
      videoPairSql

  /** q241's patch prints over block values `bm(doc_id, bx, by, v)` on a
    * `dd(doc_id, gw, gh)` grid: one global comparison grid `cmp`, and
    * `ifp(doc_id, ox, oy, ph)` = the 56-bit print of every 8x8-block window. */
  private def patchPrintCtes: String =
    "cmp AS (SELECT l.doc_id, l.bx, l.by FROM bm l " +
      "JOIN bm r ON l.doc_id = r.doc_id AND r.by = l.by " +
      "AND r.bx = l.bx + 1 WHERE l.v < r.v), " +
      "off AS (SELECT doc_id, gw, gh, " +
      "unnest(range((gw - 7) * (gh - 7))) AS oi FROM dd), " +
      "off2 AS (SELECT doc_id, oi % (gw - 7) AS ox, oi // (gw - 7) AS oy " +
      "FROM off), " +
      "wb AS (SELECT o.doc_id, o.ox, o.oy, " +
      "(c.by - o.oy) * 7 + (c.bx - o.ox) AS j " +
      "FROM off2 o JOIN cmp c ON c.doc_id = o.doc_id " +
      "AND c.bx >= o.ox AND c.bx <= o.ox + 6 " +
      "AND c.by >= o.oy AND c.by <= o.oy + 7), " +
      "ifp AS MATERIALIZED (SELECT off2.doc_id, off2.ox, off2.oy, " +
      "coalesce(sum(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0) AS ph " +
      "FROM off2 LEFT JOIN wb ON off2.doc_id = wb.doc_id " +
      "AND off2.ox = wb.ox AND off2.oy = wb.oy GROUP BY 1, 2, 3)"

  /** Crop prints over the crops' 8x8 block values `cbm`, brute-forced
    * against [[patchPrintCtes]]' windows at Hamming <= 3. Ends the query. */
  private def cropMatchSql: String =
    "ccmp AS (SELECT l.doc_id, l.by * 7 + l.bx AS j FROM cbm l " +
      "JOIN cbm r ON l.doc_id = r.doc_id AND r.by = l.by " +
      "AND r.bx = l.bx + 1 WHERE l.v < r.v), " +
      "cfp AS (SELECT cd.doc_id, " +
      "coalesce(sum(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0) AS ph " +
      "FROM cd LEFT JOIN ccmp ON cd.doc_id = ccmp.doc_id GROUP BY 1) " +
      "SELECT c.doc_id AS crop_id, i.doc_id AS image_id, " +
      "CAST(i.ox AS INTEGER) AS ox, CAST(i.oy AS INTEGER) AS oy, " +
      "CAST(bit_count(xor(c.ph, i.ph)) AS INTEGER) AS hamming " +
      "FROM cfp c JOIN ifp i ON bit_count(xor(c.ph, i.ph)) <= 3"

  /** q267's 3-frame 16x16 canvas: `c(media_id, par, f, x, y)`, one row per
    * pixel of each frame, `par` = the doc's id parity. */
  private def canvasCtes: String =
    "d AS (SELECT doc_id AS media_id, doc_id % 2 AS par " +
      "FROM documents), " +
      "fr AS (SELECT media_id, par, unnest(range(3)) AS f FROM d), " +
      "pp AS (SELECT media_id, par, f, unnest(range(256)) AS k FROM fr), " +
      "c AS (SELECT media_id, par, f, k % 16 AS x, k // 16 AS y FROM pp)"

  /** Per-frame quadrant gray sums of a 16x16 canvas `g(media_id, f, x, y,
    * gray)`. Ends the query. */
  private def quadrantSumsSql: String =
    "SELECT media_id, CAST(f AS INTEGER) AS frame_idx, " +
      "CAST(sum(CASE WHEN x < 8 AND y < 8 THEN gray ELSE 0 END) " +
      "AS BIGINT) AS q_tl, " +
      "CAST(sum(CASE WHEN x >= 8 AND y < 8 THEN gray ELSE 0 END) " +
      "AS BIGINT) AS q_tr, " +
      "CAST(sum(CASE WHEN x < 8 AND y >= 8 THEN gray ELSE 0 END) " +
      "AS BIGINT) AS q_bl, " +
      "CAST(sum(CASE WHEN x >= 8 AND y >= 8 THEN gray ELSE 0 END) " +
      "AS BIGINT) AS q_br " +
      "FROM g GROUP BY 1, 2"

  /** q271's raster dims `d(media_id, w, h)` and pixel rows `px`. */
  private def rasterPixelCtes: String =
    "d AS (SELECT doc_id AS media_id, " +
      "CAST(16 + doc_id % 5 AS BIGINT) AS w, " +
      "CAST(16 + (doc_id * 3) % 5 AS BIGINT) AS h FROM documents), " +
      "px AS (SELECT media_id, w, h, unnest(range(w * h)) AS k FROM d)"

  /** q271's quadratic displayed gray per pixel, with its 2x2 block. */
  private def rasterGrayCte: String =
    "g AS (SELECT media_id, w, h, (k % w) // 2 AS bx, (k // w) // 2 AS by, " +
      "((k % w)*(k % w)*(7 + media_id % 29) + " +
      "(k // w)*(k // w)*(11 + media_id % 17) + " +
      "(k % w)*(k // w)*(5 + media_id % 11) + media_id*23) % 251 AS gray " +
      "FROM px)"

  /** The block-means census over `g(media_id, w, h, bx, by, gray)`, whole
    * 2x2 blocks only. Ends the query. */
  private def blockMeansSql: String =
    "f AS (SELECT media_id, bx, by, sum(gray) // count(*) AS mean " +
      "FROM g WHERE bx < w // 2 AND by < h // 2 GROUP BY 1, 2, 3) " +
      "SELECT media_id, CAST(bx AS INTEGER) AS bx, " +
      "CAST(by AS INTEGER) AS by, CAST(mean AS BIGINT) AS mean FROM f"

  /** Quadrant sums of DC-only JPEG blocks `g(media_id, width, height, bx,
    * by, gray)`, 64 pixels per block. Ends the query. */
  private def jpegQuadrantSql: String =
    "SELECT media_id, width, height, " +
      "CAST(64 * sum(CASE WHEN bx < width // 16 AND by < height // 16 " +
      "THEN gray ELSE 0 END) AS BIGINT) AS q_tl, " +
      "CAST(64 * sum(CASE WHEN bx >= width // 16 AND by < height // 16 " +
      "THEN gray ELSE 0 END) AS BIGINT) AS q_tr, " +
      "CAST(64 * sum(CASE WHEN bx < width // 16 AND by >= height // 16 " +
      "THEN gray ELSE 0 END) AS BIGINT) AS q_bl, " +
      "CAST(64 * sum(CASE WHEN bx >= width // 16 AND by >= height // 16 " +
      "THEN gray ELSE 0 END) AS BIGINT) AS q_br " +
      "FROM g GROUP BY 1, 2, 3"

  /** The mono PCM16 amplitude census over samples `v(media_id, n, sv)`.
    * Ends the query. */
  private def pcmCensusSql(rate: Int): String =
    "SELECT media_id, CAST(1 AS INTEGER) AS channels, " +
      s"CAST($rate AS INTEGER) AS sample_rate, n AS n_samples, " +
      "CAST(sum(abs(sv)) AS BIGINT) AS sum_abs, " +
      "CAST(max(abs(sv)) AS BIGINT) AS peak " +
      "FROM v GROUP BY media_id, n"

  /** The published G.711 u-law expansion of codes `ul(media_id, n, u)` to
    * `uv(media_id, n, sv)`. */
  private def ulawCte: String =
    "uv AS (SELECT media_id, n, " +
      "CASE WHEN (u & 128) != 0 " +
      "THEN 132 - ((((u & 15) << 3) + 132) << ((u >> 4) & 7)) " +
      "ELSE ((((u & 15) << 3) + 132) << ((u >> 4) & 7)) - 132 " +
      "END AS sv FROM ul)"

  /** The three per-modality pair replays of the JOINT multimodal dedup
    * (q237/q238), as one CTE block: `tp` = brute-force shingle Jaccard
    * >= 0.8 (the q24 respell), `ip` = the cross-format image dHash replay
    * at Hamming <= 3 (the q224 respell), `ap` = the audio energy-contour
    * replay at Hamming <= 3 (the q220 respell). The doc_id < 1998 prefix
    * slice (1998 = 6k, so BOTH the image doc_id/2 groups and the audio
    * doc_id/3 groups stay intact; a no-op at the sf0.01 gate's 500 docs)
    * keeps the sf0.1 union graph under the small-graph closure cap — at
    * 5000 docs the fixtures' multiplier recurrences make ~72k accidental
    * pairs, whose 144k directed edges just tip the 2^17 fast path into
    * the distributed loop (53 jobs for a corpus the driver can label in
    * one). */
  private val multimodalSrc: String =
    "(SELECT * FROM documents WHERE doc_id < 1998)"
  private val multimodalPairCtes: String =
    s"${shingleCtes(multimodalSrc)}, $shinglePairCtes, " +
      "tp AS (SELECT doc_a, doc_b, TRUE AS via_text FROM sc " +
      "WHERE (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= 0.8), " +
      // image replay (q224's planted cross-format formula, groups doc_id/2)
      s"dd AS (SELECT doc_id, doc_id // 2 AS g FROM $multimodalSrc), " +
      s"${stillImageCtes("v")}, " +
      s"${stillDhashCtes("fp AS")}, " +
      "ip AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, TRUE AS via_image " +
      "FROM fp x JOIN fp y ON x.doc_id < y.doc_id " +
      "WHERE bit_count(xor(x.dhash, y.dhash)) <= 3), " +
      // audio replay (q220's planted PCM16 formula, groups doc_id/3)
      "ad AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS role " +
      s"FROM $multimodalSrc), " +
      "am AS (SELECT doc_id, g, role, " +
      "CAST(128 + (g % 64) * 4 AS BIGINT) AS n FROM ad), " +
      "asm AS (SELECT doc_id, g, role, n, unnest(range(n)) AS p FROM am), " +
      "avl AS (SELECT doc_id, (p * 57) // n AS wdx, " +
      "abs(CASE WHEN role = 2 THEN ((g*41 + p*13 + 999) % 4096) - 2048 " +
      "WHEN role = 1 AND p % 101 = 0 " +
      "THEN ((g*17 + p*5) % 4096) - 2048 + 7 " +
      "ELSE ((g*17 + p*5) % 4096) - 2048 END) AS av FROM asm), " +
      "aen AS (SELECT doc_id, wdx, sum(av) AS energy FROM avl GROUP BY 1, 2), " +
      "abt AS (SELECT l.doc_id, l.wdx AS j FROM aen l " +
      "JOIN aen r ON l.doc_id = r.doc_id AND r.wdx = l.wdx + 1 " +
      "WHERE r.energy > l.energy), " +
      "afp AS (SELECT am.doc_id, coalesce(sum(CAST(1 AS BIGINT) << " +
      "CAST(j AS INTEGER)), 0) AS afp FROM am " +
      "LEFT JOIN abt ON am.doc_id = abt.doc_id GROUP BY 1), " +
      "ap AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, TRUE AS via_audio " +
      "FROM afp x JOIN afp y ON x.doc_id < y.doc_id " +
      "WHERE bit_count(xor(x.afp, y.afp)) <= 3)"

  def specs: Seq[QuerySpec] = Seq(
    // --- multimodal plumbing [ext] (stub codec; see graft.multimodal) ---
    QuerySpec("q32_media_stats", ((s, d) =>
      graft.multimodal.Multimodal.mediaStats(s, t(s, d, "documents"))),
      // the Spark side PARSES these values back out of real PNG/WAV/AVI
      // container bytes (fixed-offset header fields, pure binary
      // expressions); the oracle recomputes what the fixture planted
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 1 THEN 'jpeg' " +
        "WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'avi' END AS format, " +
        "CASE WHEN doc_id % 3 = 1 THEN NULL ELSE CAST(16 + (n_chars % 64) * 4 AS INTEGER) END AS img_width, " +
        "CASE WHEN doc_id % 3 = 1 THEN NULL ELSE CAST(16 + ((n_chars * 7) % 48) * 4 AS INTEGER) END AS img_height, " +
        "CASE WHEN doc_id % 3 = 2 THEN CAST(1 + doc_id % 5 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS n_frames, " +
        "CASE WHEN doc_id % 3 = 1 THEN CAST(8000 + (doc_id % 5) * 8000 AS INTEGER) END AS sample_rate, " +
        "CASE WHEN doc_id % 3 = 1 THEN CAST(1 + doc_id % 2 AS INTEGER) END AS channels, " +
        "CAST(strlen(text) AS BIGINT) AS payload_bytes FROM documents")),
    // --- multimodal frame sampling (decode -> every-2nd-frame keep) ---
    QuerySpec("q59_frame_sample", { (s, d) =>
      import graft.multimodal.Multimodal
      val media = Multimodal.syntheticMediaFromDocs(t(s, d, "documents"))
      Multimodal.sampleFrames(Multimodal.decode(media), everyN = 2)
        .groupBy(col("media_id").as("doc_id"))
        .agg(count(lit(1)).as("n_sampled_frames"),
          max(col("frame_idx")).as("max_frame_idx"))
    },
      // keeping frame_idx % 2 == 0 over 0..frames-1 leaves ceil(frames/2);
      // only AVI containers carry dwTotalFrames (= 1 + doc_id % 5) > 1;
      // png/wav decode to one frame (frame_idx 0)
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 3 = 2 THEN CAST(floor((doc_id % 5) / 2) + 1 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS n_sampled_frames, " +
        "CASE WHEN doc_id % 3 = 2 THEN CAST(floor((doc_id % 5) / 2) * 2 AS INTEGER) ELSE CAST(0 AS INTEGER) END AS max_frame_idx " +
        "FROM documents")),
    // --- REAL PNG pixel decode [ext]: spec-complete RGBA PNGs (zlib IDAT
    // via java.util.zip — PNG's compression IS the JDK's — with valid
    // CRC32 chunks) are built from a closed-form pixel formula, then the
    // engine inflates, unfilters, and reduces each image to exact
    // per-channel sums; the oracle recomputes the sums ARITHMETICALLY, so
    // a decoder bug anywhere (chunk walk, inflate, filter reversal) hash-
    // mismatches. Tiny dims (<= 16x13): the contract is the codec, not
    // byte volume (in-suite budget <= 3 s) ---
    QuerySpec("q217_png_pixel_decode", ((s, d) =>
      graft.multimodal.Multimodal.pngPixelStats(
        graft.multimodal.Multimodal.syntheticPixelMedia(
          t(s, d, "documents").filter(col("doc_id") % 2 === 0))).toDF()),
      // pixel-decode replay: the fixture's closed-form pixel bytes
      // (media_id*31 + i) mod 256 summed per channel — the engine must land
      // here through the REAL inflate + unfilter path
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(4 + (n_chars % 13) AS INTEGER) AS width, " +
        "CAST(3 + ((n_chars * 7) % 11) AS INTEGER) AS height " +
        "FROM documents WHERE doc_id % 2 = 0), " +
        "px AS (SELECT media_id, width, height, " +
        "unnest(range(width * height * 4)) AS i FROM d), " +
        "v AS (SELECT media_id, width, height, i % 4 AS c, " +
        "(media_id * 31 + i) % 256 AS val FROM px) " +
        "SELECT media_id, width, height, " +
        "CAST(width AS BIGINT) * height AS n_pixels, " +
        "CAST(sum(CASE WHEN c = 0 THEN val ELSE 0 END) AS BIGINT) AS sum_r, " +
        "CAST(sum(CASE WHEN c = 1 THEN val ELSE 0 END) AS BIGINT) AS sum_g, " +
        "CAST(sum(CASE WHEN c = 2 THEN val ELSE 0 END) AS BIGINT) AS sum_b, " +
        "CAST(sum(CASE WHEN c = 3 THEN val ELSE 0 END) AS BIGINT) AS sum_a " +
        "FROM v GROUP BY media_id, width, height")),
    // --- REAL WAV sample decode [ext]: PCM16 clips from a closed-form
    // sample formula, decoded by the RIFF chunk walk (PCM needs no codec)
    // into the exact amplitude census; same arithmetic-oracle contract as
    // q217 (in-suite budget <= 3 s) ---
    QuerySpec("q218_wav_sample_decode", ((s, d) =>
      graft.multimodal.Multimodal.wavSampleStats(
        graft.multimodal.Multimodal.syntheticPixelMedia(
          t(s, d, "documents").filter(col("doc_id") % 2 === 1))).toDF()),
      // sample-decode replay: the fixture's closed-form PCM16 samples
      // ((media_id*17 + p*3) mod 4096) - 2048, amplitude census
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(64 + (n_chars % 128) AS BIGINT) AS n " +
        "FROM documents WHERE doc_id % 2 = 1), " +
        "s AS (SELECT media_id, n, unnest(range(n)) AS p FROM d), " +
        "v AS (SELECT media_id, n, ((media_id * 17 + p * 3) % 4096) - 2048 AS sv FROM s) " +
        pcmCensusSql(16000))),
    // --- perceptual image near-dup [ext]: the composition of the real PNG
    // decoder (q217) with the Hamming bit-band blocking q45 proves for
    // SimHash — planted base / sparse-watermark / distinct image triples,
    // decoded through all five scanline filters, box-downsampled to 8x8
    // grayscale block means, 56-bit dHash, banded candidate pairs + exact
    // Hamming verify (== brute force). The oracle recomputes every hash
    // ARITHMETICALLY from the planted pixel formulas and brute-forces the
    // pairs (in-suite budget <= 3 s) ---
    QuerySpec("q219_image_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.imageNearDups(
        graft.multimodal.MediaDedup.syntheticNearDupImages(
          t(s, d, "documents")), maxHamming = 3, bands = 4)
        .select(col("media_a"), col("media_b"),
          col("hamming").cast("int").as("hamming"))),
      // image dHash replay: grayscale v(k) per planted role formula, 8x8
      // floor-block integer means, bit y*7+x set iff mean[y][x]<mean[y][x+1],
      // then BRUTE-FORCE pairs — the engine must land here through the real
      // decode (all five filters) + banded blocking
      ("WITH dd AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS role " +
        "FROM documents), " +
        "dm AS (SELECT doc_id, g, role, " +
        "CAST(16 + (g % 5) * 4 AS BIGINT) AS w, " +
        "CAST(12 + ((g * 3) % 5) * 4 AS BIGINT) AS h FROM dd), " +
        "px AS (SELECT doc_id, g, role, w, h, unnest(range(w * h)) AS k " +
        "FROM dm), " +
        "v AS (SELECT doc_id, " +
        "CASE WHEN role = 2 THEN (g*53 + (k % w)*29 + (k // w)*3 + 128) % 256 " +
        "WHEN role = 1 AND k % 97 = 0 " +
        "THEN ((g*31 + (k % w)*7 + (k // w)*13) % 256 + 4) % 256 " +
        "ELSE (g*31 + (k % w)*7 + (k // w)*13) % 256 END AS val, " +
        "((k % w) * 8) // w AS bx, ((k // w) * 8) // h AS by FROM px), " +
        s"${stillDhashCtes("fp AS")} " +
        hammingPairsSql("dhash"))),
    // --- audio fingerprint near-dup [ext]: the WAV-side twin — PCM16
    // energy-contour fingerprints (57 windows, 56 adjacent comparisons)
    // over planted base / nudged / distinct clip triples, same banding
    // machinery, same arithmetic-replay oracle (in-suite budget <= 3 s) ---
    QuerySpec("q220_audio_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.audioNearDups(
        graft.multimodal.MediaDedup.syntheticNearDupAudio(
          t(s, d, "documents")), maxHamming = 3, bands = 4)
        .select(col("media_a"), col("media_b"),
          col("hamming").cast("int").as("hamming"))),
      // audio fingerprint replay: planted PCM16 sample formulas, 57
      // floor-assigned energy windows, bit j set iff E[j+1]>E[j], brute pairs
      ("WITH dd AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS role " +
        "FROM documents), " +
        s"${audioEnergyCtes("s")}, " +
        s"${audioPrintCtes("fp AS")} " +
        hammingPairsSql("afp"))),
    // --- REAL resize [ext]: q217's full-decode PNGs box-downsampled to
    // maxSide 8 (integer block means, ceil dims, edge blocks keep true
    // counts), RE-ENCODED as spec-complete PNGs, then pushed through the
    // real pixel census — so a bug in decode, resample, or re-encode all
    // hash-mismatch. Images already inside the bound pass through
    // byte-identical (both branches fire at every sf). The oracle replays
    // floor(blockSum/blockCount) per channel from the planted formula
    // (in-suite budget <= 3 s) ---
    QuerySpec("q221_resize_census", ((s, d) =>
      graft.multimodal.Multimodal.pngPixelStats(
        graft.multimodal.Multimodal.resize(
          graft.multimodal.Multimodal.syntheticPixelMedia(
            t(s, d, "documents").filter(col("doc_id") % 2 === 0)),
          maxSide = 8)).toDF()),
      // resize replay: scale s = ceil(maxDim/8), output pixel = per-channel
      // floor(blockSum/blockCount) over the planted formula, summed per
      // channel — the engine must land here through decode + box resample +
      // re-encode + re-decode
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(4 + (n_chars % 13) AS BIGINT) AS w, " +
        "CAST(3 + ((n_chars * 7) % 11) AS BIGINT) AS h " +
        "FROM documents WHERE doc_id % 2 = 0), " +
        "dm AS (SELECT media_id, w, h, " +
        "greatest(1, (greatest(w, h) + 7) // 8) AS s FROM d), " +
        "dm2 AS (SELECT media_id, w, h, s, (w + s - 1) // s AS w2, " +
        "(h + s - 1) // s AS h2 FROM dm), " +
        "px AS (SELECT media_id, w, s, w2, h2, " +
        "unnest(range(w * h * 4)) AS i FROM dm2), " +
        "v AS (SELECT media_id, w2, h2, i % 4 AS c, " +
        "((i // 4) % w) // s AS bx, ((i // 4) // w) // s AS by, " +
        "(media_id * 31 + i) % 256 AS val FROM px), " +
        "m AS (SELECT media_id, w2, h2, c, bx, by, " +
        "sum(val) // count(*) AS mean FROM v GROUP BY 1, 2, 3, 4, 5, 6) " +
        "SELECT media_id, CAST(w2 AS INTEGER) AS width, " +
        "CAST(h2 AS INTEGER) AS height, " +
        "CAST(w2 * h2 AS BIGINT) AS n_pixels, " +
        "CAST(sum(CASE WHEN c = 0 THEN mean ELSE 0 END) AS BIGINT) AS sum_r, " +
        "CAST(sum(CASE WHEN c = 1 THEN mean ELSE 0 END) AS BIGINT) AS sum_g, " +
        "CAST(sum(CASE WHEN c = 2 THEN mean ELSE 0 END) AS BIGINT) AS sum_b, " +
        "CAST(sum(CASE WHEN c = 3 THEN mean ELSE 0 END) AS BIGINT) AS sum_a " +
        "FROM m GROUP BY media_id, w2, h2")),
    // --- REAL GIF (LZW) pixel decode [ext]: spec-complete GIF89a fixtures
    // (64-color global palette, GCE extension, sub-block-split LZW data)
    // decoded by genuine variable-width code-table expansion (CLEAR
    // resets, the KwKwK case, width bumps), indices mapped through the
    // palette into an exact census; the oracle recomputes the planted
    // index and palette formulas arithmetically. JPEG stays header-only BY
    // DESIGN: entropy decode = Huffman + IDCT, a codec body out of scope
    // (documented at Containers.jpegDims). Budget <= 3 s ---
    QuerySpec("q222_gif_pixel_decode", ((s, d) =>
      graft.multimodal.Multimodal.gifPixelStats(
        graft.multimodal.Multimodal.syntheticGifMedia(
          t(s, d, "documents"))).toDF()),
      // GIF replay: pixel index (id*13 + k/7) mod 64 mapped through the
      // planted palette formulas — the engine must land here through real
      // LZW expansion
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(10 + (doc_id % 11) AS BIGINT) AS w, " +
        "CAST(8 + ((doc_id * 3) % 7) AS BIGINT) AS h FROM documents), " +
        "px AS (SELECT media_id, w, h, unnest(range(w * h)) AS k FROM d), " +
        "v AS (SELECT media_id, w, h, (media_id * 13 + k // 7) % 64 AS idx " +
        "FROM px) " +
        "SELECT media_id, CAST(w AS INTEGER) AS width, " +
        "CAST(h AS INTEGER) AS height, CAST(w * h AS BIGINT) AS n_pixels, " +
        "CAST(sum((idx * 5 + 7) % 256) AS BIGINT) AS sum_r, " +
        "CAST(sum((idx * 11 + 3) % 256) AS BIGINT) AS sum_g, " +
        "CAST(sum((idx * 23 + 1) % 256) AS BIGINT) AS sum_b, " +
        "CAST(sum(idx) AS BIGINT) AS sum_idx " +
        "FROM v GROUP BY media_id, w, h")),
    // --- CROSS-FORMAT perceptual dedup [ext]: the same image content
    // planted once as a PNG and once as a 256-gray-palette GIF (container
    // bytes share NOTHING — different compression, different structure)
    // must collide on the format-blind dHash: each format decodes through
    // its own real codec to identical grayscale, so every planted pair
    // surfaces at Hamming 0 — the re-encoded-copy case that byte-level
    // dedup structurally misses. Oracle recomputes the shared hash from
    // one formula and brute-forces pairs (in-suite budget <= 3 s) ---
    QuerySpec("q224_crossformat_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.imageNearDups(
        graft.multimodal.MediaDedup.syntheticCrossFormatImages(
          t(s, d, "documents")), maxHamming = 3, bands = 4)
        .select(col("media_a"), col("media_b"),
          col("hamming").cast("int").as("hamming"))),
      // cross-format replay: ONE grayscale formula covers both members of a
      // pair (PNG plants it as r=g=b, GIF as the identity gray palette), so
      // the hash arithmetic is the q219 dHash replay over group g = id/2
      ("WITH dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        s"${stillImageCtes("v")}, " +
        s"${stillDhashCtes("fp AS")} " +
        hammingPairsSql("dhash"))),
    // --- perceptual media clusters [ext]: the labeling form of q224 —
    // every media row labeled with the min-id connected component of its
    // Hamming-<=3 pair graph (singletons self-label; dedup = keep
    // media_id == cluster_id), over the MIXED-format corpus so clusters
    // group a PNG with its GIF re-encode. Oracle: q224's hash replay +
    // recursive-CTE closure (the q43/q199 pattern) + a cluster-size
    // window (in-suite budget <= 3 s) ---
    QuerySpec("q225_media_clusters", ((s, d) =>
      graft.multimodal.MediaDedup.imageClusters(
        graft.multimodal.MediaDedup.syntheticCrossFormatImages(
          t(s, d, "documents")), maxHamming = 3, bands = 4)),
      ("WITH RECURSIVE dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        s"${stillImageCtes("v")}, " +
        s"${stillDhashCtes("fp AS MATERIALIZED")}, " +
        "edges AS (SELECT x.doc_id AS a, y.doc_id AS b FROM fp x " +
        "JOIN fp y ON x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.dhash, y.dhash)) <= 3), " +
        s"$edgeComponentCtes, " +
        "lab AS (SELECT fp.doc_id AS media_id, " +
        "least(fp.doc_id, coalesce(mn, fp.doc_id)) AS cluster_id " +
        "FROM fp LEFT JOIN compmap ON fp.doc_id = compmap.n) " +
        "SELECT media_id, cluster_id, " +
        "CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size " +
        "FROM lab")),
    // --- content-based image similarity search [ext]: CLASSICAL 88-dim
    // descriptors (per-channel histograms + gray block-mean grid) over
    // DECODED pixels — integer-valued, so cosine replays bit-for-bit —
    // plugged straight into the Similarity surface via the (vec_id,
    // embedding) contract (q28's brute top-k); a probe's nearest neighbor
    // is its cross-format re-encode at cosine exactly 1. The learned
    // embedding extractor remains stubbed (no weights in this sandbox);
    // these are honest content features, not a model (budget <= 3 s) ---
    QuerySpec("q226_image_similarity", { (s, d) =>
      // descriptors feed the corpus side AND the probe filter —
      // materialized so the decode pass runs once
      val desc = Caching.materialize(graft.multimodal.MediaDedup.imageDescriptors(
        graft.multimodal.MediaDedup.syntheticCrossFormatImages(
          t(s, d, "documents"))))
      Similarity.bruteForceTopK(desc, desc.filter(col("vec_id") < 10), 3)
    },
      // descriptor replay: dense 88-dim vectors from the planted formula
      // (channels identical — the fixture plants r=g=b on both codecs),
      // cosine in the exact q28 list_inner_product spelling (integer dims →
      // bit-identical doubles)
      ("WITH dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        s"$imageDescriptorCtes, " +
        "dsc AS MATERIALIZED (SELECT doc_id, list(v ORDER BY dim) AS vec " +
        "FROM fl GROUP BY 1), " +
        descriptorTopKSql)),
    // --- image ANN at scale [ext]: the q40 IVF machinery runs UNCHANGED
    // over the content descriptors (the (vec_id, embedding) contract
    // paying off) — brute-force truth vs IVF top-k under the q29/q40
    // self-verifying recall gate; a probe's cross-format twin is an
    // identical vector, so it always shares the probe's own cell
    // (budget <= 3 s) ---
    QuerySpec("q227_image_ann_ivf", { (s, d) =>
      val desc = Caching.materialize(graft.multimodal.MediaDedup.imageDescriptors(
        graft.multimodal.MediaDedup.syntheticCrossFormatImages(
          t(s, d, "documents"))))
      val probes = desc.filter(col("vec_id") < 10)
      Similarity.recallGate(
        Similarity.bruteForceTopK(desc, probes, 3),
        Similarity.ivfTopK(Similarity.ivfBuild(desc), probes, 3, nProbe = 8),
        minRecall = 0.5)
    },
      // self-verifying recall gate over the image descriptors (the q29/q40
      // oracle shape: the boolean is pinned TRUE, the counts are exact)
      ("SELECT count(*) AS n_probes, CAST(3 * count(*) AS BIGINT) AS n_exact_pairs, " +
        "TRUE AS recall_ok FROM documents WHERE doc_id < 10")),
    // --- audio similarity search [ext]: the audio twin of q226 — the 57
    // window energies AS the descriptor vector (cosine is scale-invariant,
    // so a volume-scaled copy scores 1 against its original); brute top-k
    // over the planted clip triples, bit-replayable cosine
    // (budget <= 3 s) ---
    QuerySpec("q228_audio_similarity", { (s, d) =>
      val desc = Caching.materialize(graft.multimodal.MediaDedup.audioDescriptors(
        graft.multimodal.MediaDedup.syntheticNearDupAudio(
          t(s, d, "documents"))))
      Similarity.bruteForceTopK(desc, desc.filter(col("vec_id") < 10), 3)
    },
      // audio descriptor replay: q220's planted window energies as a dense
      // 57-dim vector, q28's exact cosine spelling
      ("WITH dd AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS role " +
        "FROM documents), " +
        s"${audioEnergyCtes("sm")}, " +
        "dsc AS MATERIALIZED (SELECT doc_id, " +
        "list(CAST(energy AS DOUBLE) ORDER BY wdx) AS vec FROM e GROUP BY 1), " +
        descriptorTopKSql)),
    // --- streaming MEDIA ingest with perceptual dedup [ext]: the
    // multimodal twin of q196 — per-batch format-blind dHash through the
    // real decoders, in-batch Hamming-component dedup, banded cross-batch
    // rejection against the COMMITTED lake (the lake IS the fingerprint
    // index; a later batch's GIF re-encode of a committed PNG is
    // rejected). PNG batch then GIF batch (every odd id the re-encode of
    // an even one); the deterministic twin runs the exact per-batch
    // pipeline (stream == twin spec-pinned in MediaIngestSpec); the
    // oracle replays within-batch closures per parity + brute cross-batch
    // Hamming rejection (budget <= 3 s) ---
    QuerySpec("q229_media_ingest_twin", { (s, d) =>
      val media = graft.multimodal.MediaDedup.syntheticCrossFormatImages(
        t(s, d, "documents")).toDF()
      graft.stream.MediaIngest.perceptualIngestTwin(s,
        media.filter(col("media_id") % 2 === 0),
        media.filter(col("media_id") % 2 === 1))
    },
      // media ingest replay: the q224 hash arithmetic, ONE recursive closure
      // over same-parity edges (within-batch components for both batches),
      // batch-1 canonicals admit unconditionally, batch-2 canonicals drop on
      // any brute-force Hamming-<=3 hit against an admitted batch-1 row
      ("WITH RECURSIVE dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        s"${stillImageCtes("v")}, " +
        s"${stillDhashCtes("fp AS MATERIALIZED")}, " +
        "edges AS (SELECT x.doc_id AS a, y.doc_id AS b FROM fp x " +
        "JOIN fp y ON x.doc_id < y.doc_id AND x.doc_id % 2 = y.doc_id % 2 " +
        "WHERE bit_count(xor(x.dhash, y.dhash)) <= 3), " +
        s"$edgeComponentCtes, " +
        s"${admitCtes("dhash")} " +
        // the sum(1 << j) hash is a HUGEINT in DuckDB — cast the OUTPUT
        // column to BIGINT or the comparer reads it as a lossy float
        "SELECT adm.doc_id AS media_id, CAST(fp.dhash AS BIGINT) AS dhash " +
        "FROM adm JOIN fp ON adm.doc_id = fp.doc_id")),
    // --- REAL AVI frame decode [ext]: video was the last header-only
    // media type — complete RIFF fixtures now carry uncompressed BGR24
    // bottom-up DIB frame chunks in a movi LIST, and the engine walks the
    // chunk chain (word alignment, LIST recursion, strf validation) and
    // reassembles every frame into a per-frame channel census the oracle
    // recomputes ARITHMETICALLY from the planted closed form. Compressed
    // ('##dc') streams fail fast by name; the codec is the contract, not
    // the byte volume (budget <= 3 s) ---
    QuerySpec("q230_avi_frame_decode", ((s, d) =>
      graft.multimodal.Multimodal.aviFrameStats(
        graft.multimodal.Multimodal.syntheticVideoMedia(
          t(s, d, "documents"))).toDF()),
      // AVI replay: frame f's channel-c pixel (x, y) is the closed form
      // (id*31 + f*19 + x*7 + y*13 + c*91) mod 256 — the engine must land
      // here through the real RIFF walk + bottom-up BGR DIB reassembly
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(5 + doc_id % 9 AS BIGINT) AS w, " +
        "CAST(4 + (doc_id * 3) % 7 AS BIGINT) AS h, " +
        "CAST(2 + doc_id % 4 AS BIGINT) AS nf FROM documents), " +
        "fr AS (SELECT media_id, w, h, unnest(range(nf)) AS f FROM d), " +
        "px AS (SELECT media_id, w, h, f, unnest(range(w * h)) AS k FROM fr), " +
        "v AS (SELECT media_id, w, h, f, " +
        "(media_id*31 + f*19 + (k % w)*7 + (k // w)*13) % 256 AS r0 FROM px) " +
        "SELECT media_id, CAST(f AS INTEGER) AS frame_idx, " +
        "CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, " +
        "CAST(w * h AS BIGINT) AS n_pixels, " +
        "CAST(sum(r0) AS BIGINT) AS sum_r, " +
        "CAST(sum((r0 + 91) % 256) AS BIGINT) AS sum_g, " +
        "CAST(sum((r0 + 182) % 256) AS BIGINT) AS sum_b " +
        "FROM v GROUP BY media_id, f, w, h")),
    // --- video perceptual near-dup [ext]: the video twin of q219 — REAL
    // frame sampling (every 2nd frame; the oracle's WHERE f % 2 = 0 pins
    // the sampling arithmetic), per-frame 56-bit dHash over decoded
    // pixels, frame-pair candidates from the SAME banded machinery
    // (frames ride packed media·2^20+frame ids through hammingBandPairs),
    // then SHARED-FRAME containment per video pair: near-dup iff >= 50%
    // of BOTH sides' sampled frames match within Hamming 3 (bag
    // semantics — a re-cut that reorders frames still matches). Oracle
    // replays every frame hash from the planted formulas and brute-forces
    // frame pairs (budget <= 3 s) ---
    QuerySpec("q231_video_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.videoNearDups(
        graft.multimodal.MediaDedup.syntheticNearDupVideos(
          t(s, d, "documents")), everyN = 2, maxHamming = 3, bands = 4,
        minSharedFrac = 0.5)),
      ("WITH dd AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS role " +
        "FROM documents), " +
        s"$sampledVideoCtes, " +
        s"$frameMeansCte, ${frameDhashCtes("sf2")}, " +
        s"${frameMatchCtes("")} " +
        "SELECT agg.ma AS media_a, agg.mb AS media_b, matched_a, matched_b, " +
        "least(matched_a / ca.n, matched_b / cb.n) AS match_frac " +
        "FROM agg JOIN cnt ca ON agg.ma = ca.doc_id " +
        "JOIN cnt cb ON agg.mb = cb.doc_id " +
        "WHERE least(matched_a / ca.n, matched_b / cb.n) >= 0.5")),
    // --- video perceptual clusters [ext]: the labeling form of q231 (the
    // q225 contract on videos): min-id connected component of the
    // shared-frame pair graph, singletons self-label, dedup = keep
    // media_id == cluster_id. Oracle: q231's pair replay + recursive-CTE
    // closure + a cluster-size window (budget <= 3 s) ---
    QuerySpec("q232_video_clusters", ((s, d) =>
      graft.multimodal.MediaDedup.videoClusters(
        graft.multimodal.MediaDedup.syntheticNearDupVideos(
          t(s, d, "documents")), everyN = 2, maxHamming = 3, bands = 4,
        minSharedFrac = 0.5)),
      ("WITH RECURSIVE dd AS (SELECT doc_id, doc_id // 3 AS g, " +
        "doc_id % 3 AS role FROM documents), " +
        s"$sampledVideoCtes, " +
        s"$frameMeansCte, ${frameDhashCtes("sf2")}, " +
        s"${frameMatchCtes("")}, " +
        "edges AS (SELECT agg.ma AS a, agg.mb AS b " +
        "FROM agg JOIN cnt ca ON agg.ma = ca.doc_id " +
        "JOIN cnt cb ON agg.mb = cb.doc_id " +
        "WHERE least(matched_a / ca.n, matched_b / cb.n) >= 0.5), " +
        s"$edgeComponentCtes, " +
        "lab AS (SELECT dd.doc_id, " +
        "least(dd.doc_id, coalesce(mn, dd.doc_id)) AS cid " +
        "FROM dd LEFT JOIN compmap ON dd.doc_id = compmap.n) " +
        "SELECT doc_id AS media_id, cid AS cluster_id, " +
        "CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS cluster_size " +
        "FROM lab")),
    // --- video content similarity search [ext]: the video twin of
    // q226/q228 — a bag-of-frames temporal descriptor (the 64 gray block
    // means of each sampled frame, floor integers, SUMMED across frames)
    // in the (vec_id, embedding) contract, so the whole Similarity
    // surface runs over what videos CONTAIN; integer dims keep cosine
    // bit-replayable (budget <= 3 s) ---
    QuerySpec("q233_video_similarity", { (s, d) =>
      val desc = Caching.materialize(graft.multimodal.MediaDedup.videoDescriptors(
        graft.multimodal.MediaDedup.syntheticNearDupVideos(
          t(s, d, "documents")), everyN = 2))
      Similarity.bruteForceTopK(desc, desc.filter(col("vec_id") < 10), 3)
    },
      // video descriptor replay: per sampled frame the 64 gray block means
      // (q231's m CTE), summed across frames into dims by*8+bx — then the
      // q228 cosine/top-k spelling
      ("WITH dd AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS role " +
        "FROM documents), " +
        s"$sampledVideoCtes, " +
        s"$frameMeansCte, " +
        "cell AS (SELECT doc_id, by * 8 + bx AS dim, sum(mean) AS sv " +
        "FROM m GROUP BY 1, 2), " +
        "dsc AS MATERIALIZED (SELECT doc_id, " +
        "list(CAST(sv AS DOUBLE) ORDER BY dim) AS vec FROM cell GROUP BY 1), " +
        descriptorTopKSql)),
    // --- shot-boundary detection [ext]: consecutive-frame Hamming over
    // the full decoded frame stream (shot detection is inherently
    // sequential — no sampling), boundary where the hash jumps by > 10
    // bits, shot_id = running boundary count per video (a per-video
    // window bounded by the video's own frame count). Fixtures plant
    // 3-frame shots whose x/y multipliers change wholesale at each cut;
    // the oracle replays every hash and the same window arithmetic
    // (budget <= 3 s) ---
    QuerySpec("q234_shot_labels", ((s, d) =>
      graft.multimodal.MediaDedup.shotLabels(
        graft.multimodal.MediaDedup.syntheticShotVideos(
          t(s, d, "documents")), maxIntraShotHamming = 10)),
      // shot replay: the q230-style per-(video, frame) hash arithmetic with
      // per-(doc, shot) multipliers, then the same running-boundary window
      ("WITH d AS (SELECT doc_id, " +
        "CAST(12 + (doc_id % 5) * 4 AS BIGINT) AS w, " +
        "CAST(8 + ((doc_id * 3) % 4) * 4 AS BIGINT) AS h, " +
        "CAST(6 + doc_id % 4 AS BIGINT) AS nf FROM documents), " +
        "fr AS (SELECT doc_id, w, h, unnest(range(nf)) AS f FROM d), " +
        "px AS (SELECT doc_id, w, h, f, f // 3 AS s, " +
        "unnest(range(w * h)) AS k FROM fr), " +
        "v AS (SELECT doc_id, f, " +
        "(doc_id*29 + s*71 + f*3 + (k % w)*(3 + (doc_id*13 + s*37) % 251) + " +
        "(k // w)*(2 + (doc_id*7 + s*29) % 241)) % 256 AS val, " +
        "((k % w) * 8) // w AS bx, ((k // w) * 8) // h AS by FROM px), " +
        s"$frameMeansCte, ${frameDhashCtes("fr")}, " +
        "bd AS (SELECT c.doc_id, c.f, " +
        "CASE WHEN p.dh IS NULL THEN 0 " +
        "WHEN bit_count(xor(c.dh, p.dh)) > 10 THEN 1 ELSE 0 END AS b " +
        "FROM fp c LEFT JOIN fp p ON c.doc_id = p.doc_id AND p.f = c.f - 1) " +
        "SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx, " +
        "CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY f) AS BIGINT) " +
        "AS shot_id FROM bd")),
    // --- cross-modal video<->image matching [ext]: which videos CONTAIN
    // a known image (blocklist / provenance) — every frame hashes through
    // the SAME 56-bit grid as the image corpus, candidates from the
    // cross-side band-chunk equi-join (the MediaIngest lake-check shape,
    // never frames x images), exact Hamming verify. Probe 3g is a PNG of
    // frame 1 of video 3g's content, so it must hit at Hamming 0 across
    // the modality boundary; the oracle reuses the video-side hash replay
    // for BOTH sides (the probe formula IS the frame-1 formula)
    // (budget <= 3 s) ---
    QuerySpec("q235_video_image_match", ((s, d) =>
      graft.multimodal.MediaDedup.videoImageMatches(
        graft.multimodal.MediaDedup.syntheticNearDupVideos(
          t(s, d, "documents")),
        graft.multimodal.MediaDedup.syntheticProbeImages(
          t(s, d, "documents")), maxHamming = 3, bands = 4)),
      // cross-modal replay: the q231 hash arithmetic over ALL frames (no
      // sampling — a blocklist scan cannot sample); the probe side reuses
      // the SAME fp table (probe 3g's formula IS video 3g's frame-1
      // formula), brute-force Hamming join across the modality boundary
      ("WITH dd AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS role " +
        "FROM documents), " +
        s"${videoFrameCtes("fr")}, ${videoPixelCtes("fr")}, " +
        s"$frameMeansCte, ${frameDhashCtes("fr")}, " +
        "imgfp AS (SELECT doc_id AS image_id, dh FROM fp " +
        "WHERE doc_id % 3 = 0 AND f = 1) " +
        "SELECT f.doc_id AS video_id, CAST(f.f AS INTEGER) AS frame_idx, " +
        "i.image_id, CAST(bit_count(xor(f.dh, i.dh)) AS INTEGER) AS hamming " +
        "FROM fp f JOIN imgfp i ON bit_count(xor(f.dh, i.dh)) <= 3")),
    // --- streaming VIDEO ingest with shared-frame perceptual dedup
    // [ext]: completes the streaming story for the last media type — the
    // lake holds a FRAME-grain fingerprint index; each micro-batch is
    // frame-hashed through the real AVI decoder, deduped in-batch by
    // shared-frame containment components (min-id keep), then checked
    // against the committed index via cross-side band chunks (only
    // (media_id, frame_idx, dhash) leaves the lake) — a re-cut or
    // re-encoded copy of a committed video is rejected with no container
    // byte shared, and replays are idempotent with no streaming state.
    // EVEN-group half-slice (keeps every group's cross-batch structure:
    // role 0 lands even → batch 1, role 1 odd → batch 2, so every planted
    // near-dup pair straddles the boundary); stream == twin pinned in
    // MediaIngestSpec; the oracle replays in-batch closures per parity +
    // cross-batch containment rejection. Priced honestly at ~3.8 s: the
    // cost is two full ingest lifecycles with four governed-table commits
    // and two closure materializations in the timed region — fixed per-job
    // scheduling, not data (a half→quarter slice moved it 0.12 s) ---
    QuerySpec("q236_video_ingest_twin", { (s, d) =>
      // fixture materialized: both batches and every write action re-read
      // the payload rows; uncached, each action re-encodes the AVI bytes
      val media = Caching.materialize(graft.multimodal.MediaDedup.syntheticNearDupVideos(
        t(s, d, "documents").filter(expr("(doc_id div 3) % 2 = 0"))).toDF())
      graft.stream.MediaIngest.videoIngestTwin(s,
        media.filter(col("media_id") % 2 === 0),
        media.filter(col("media_id") % 2 === 1))
    },
      // video ingest replay: the q231 hash + containment arithmetic, ONE
      // recursive closure over same-parity containment edges (in-batch
      // components for both batches), batch-1 canonicals admit
      // unconditionally, batch-2 canonicals drop on any >= 0.5 shared-frame
      // containment hit against an admitted batch-1 video
      ("WITH RECURSIVE dd AS (SELECT doc_id, doc_id // 3 AS g, " +
        "doc_id % 3 AS role FROM documents " +
        "WHERE (doc_id // 3) % 2 = 0), " +
        s"$sampledVideoCtes, " +
        s"$frameMeansCte, ${frameDhashCtes("sf2")}, " +
        "cnt AS (SELECT doc_id, count(*) AS n FROM sf2 GROUP BY 1), " +
        "pmb AS (SELECT x.doc_id AS ma, y.doc_id AS mb, x.f AS fa, y.f AS fb " +
        "FROM fp x JOIN fp y ON x.doc_id < y.doc_id " +
        "AND x.doc_id % 2 = y.doc_id % 2 " +
        "WHERE bit_count(xor(x.dh, y.dh)) <= 3), " +
        "aggb AS (SELECT ma, mb, count(DISTINCT fa) AS matched_a, " +
        "count(DISTINCT fb) AS matched_b FROM pmb GROUP BY 1, 2), " +
        "edges AS (SELECT aggb.ma AS a, aggb.mb AS b " +
        "FROM aggb JOIN cnt ca ON aggb.ma = ca.doc_id " +
        "JOIN cnt cb ON aggb.mb = cb.doc_id " +
        "WHERE least(matched_a / ca.n, matched_b / cb.n) >= 0.5), " +
        s"$edgeComponentCtes, " +
        "lab AS (SELECT dd.doc_id, " +
        "least(dd.doc_id, coalesce(mn, dd.doc_id)) AS cid " +
        "FROM dd LEFT JOIN compmap ON dd.doc_id = compmap.n), " +
        "a1 AS (SELECT doc_id FROM lab WHERE doc_id % 2 = 0 AND cid = doc_id), " +
        "c2 AS (SELECT doc_id FROM lab WHERE doc_id % 2 = 1 AND cid = doc_id), " +
        "pmx AS (SELECT c.doc_id AS cv, a.doc_id AS av, c.f AS cf, a.f AS af " +
        "FROM fp c JOIN c2 ON c.doc_id = c2.doc_id " +
        "JOIN fp a ON a.doc_id % 2 = 0 " +
        "JOIN a1 ON a.doc_id = a1.doc_id " +
        "WHERE bit_count(xor(c.dh, a.dh)) <= 3), " +
        "aggx AS (SELECT cv, av, count(DISTINCT cf) AS mc, " +
        "count(DISTINCT af) AS ma2 FROM pmx GROUP BY 1, 2), " +
        "rej AS (SELECT DISTINCT cv AS doc_id FROM aggx " +
        "JOIN cnt nc ON aggx.cv = nc.doc_id " +
        "JOIN cnt na ON aggx.av = na.doc_id " +
        "WHERE least(mc / nc.n, ma2 / na.n) >= 0.5), " +
        "adm AS (SELECT doc_id FROM a1 UNION ALL " +
        "SELECT c2.doc_id FROM c2 LEFT JOIN rej USING (doc_id) " +
        "WHERE rej.doc_id IS NULL) " +
        // sum(1 << j) is a HUGEINT — cast the OUTPUT column to BIGINT or
        // the comparer reads it as a lossy float
        "SELECT adm.doc_id AS media_id, CAST(fp.f AS INTEGER) AS frame_idx, " +
        "CAST(fp.dh AS BIGINT) AS dhash " +
        "FROM adm JOIN fp ON adm.doc_id = fp.doc_id")),
    // --- JOINT multimodal near-dup pairs [ext]: an item = (caption,
    // image, audio) under one id; near-dup iff ANY modality matches —
    // caption shingle-Jaccard >= 0.8 (the exact q24 banded chain), image
    // dHash Hamming <= 3 (q224's cross-format fixture — image pairs group
    // by doc_id/2), or audio energy-contour Hamming <= 3 (q220's fixture —
    // audio pairs group by doc_id/3). The three planted structures pair
    // across DIFFERENT group boundaries, so the union graph is genuinely
    // cross-modal (the LAION dedup rule: a re-posted image under a
    // rewritten caption is the same training example). Output keeps
    // provenance flags, full-outer-merged. Oracle = the three existing
    // replays full-joined (budget <= 3 s) ---
    QuerySpec("q237_multimodal_neardups", { (s, d) =>
      // doc_id < 1998 (= 6k) keeps both the /2 image groups and the /3
      // audio groups intact, and keeps the sf0.1 union graph inside the
      // small-graph closure fast path (see multimodalPairCtes)
      val docs = t(s, d, "documents").filter(col("doc_id") < 1998)
      graft.multimodal.MediaDedup.multimodalNearDups(docs,
        graft.multimodal.MediaDedup.syntheticCrossFormatImages(docs),
        graft.multimodal.MediaDedup.syntheticNearDupAudio(docs))
    },
      (s"WITH $multimodalPairCtes " +
        "SELECT doc_a, doc_b, " +
        "coalesce(via_text, FALSE) AS via_text, " +
        "coalesce(via_image, FALSE) AS via_image, " +
        "coalesce(via_audio, FALSE) AS via_audio " +
        "FROM tp FULL JOIN ip USING (doc_a, doc_b) " +
        "FULL JOIN ap USING (doc_a, doc_b)")),
    // --- JOINT multimodal clusters [ext]: the labeling form of q237 (the
    // q225 contract on the union graph) — min-id connected component over
    // text ∪ image ∪ audio edges, so caption-match(a,b) + image-match(b,c)
    // puts a and c in one cluster though no single modality links them;
    // singletons self-label; dedup = item_id == cluster_id. Oracle: the
    // q237 pair replay + recursive-CTE closure + cluster-size window
    // (budget <= 3 s) ---
    QuerySpec("q238_multimodal_clusters", { (s, d) =>
      val docs = t(s, d, "documents").filter(col("doc_id") < 1998)
      graft.multimodal.MediaDedup.multimodalClusters(docs,
        graft.multimodal.MediaDedup.syntheticCrossFormatImages(docs),
        graft.multimodal.MediaDedup.syntheticNearDupAudio(docs))
    },
      (s"WITH RECURSIVE $multimodalPairCtes, " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM tp " +
        "UNION SELECT doc_a, doc_b FROM ip " +
        "UNION SELECT doc_a, doc_b FROM ap), " +
        s"$edgeComponentCtes, " +
        "lab AS (SELECT d.doc_id AS item_id, " +
        "least(d.doc_id, coalesce(mn, d.doc_id)) AS cluster_id " +
        s"FROM $multimodalSrc d LEFT JOIN compmap ON d.doc_id = compmap.n) " +
        "SELECT item_id, cluster_id, " +
        "CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size " +
        "FROM lab")),
    // --- audio clip-in-track containment search [ext]: the audio twin of
    // span-level text dedup (q197) — whole-clip fingerprints stretch
    // their windows with clip length and can NEVER find an excerpt, so
    // tracks get per-offset span prints over ABSOLUTE 10-sample windows
    // and a clip's leading span print is matched via the cross-side
    // band-chunk join (the q235/q236 machinery; never clips x spans),
    // exact Hamming verify. A volume-TRIPLED, window-aligned excerpt hits
    // its source track at its planted offset at Hamming 0; the oracle
    // replays track and clip energies from the planted formulas and
    // brute-forces all clip x span pairs (budget <= 3 s) ---
    QuerySpec("q239_audio_clip_matches", { (s, d) =>
      val docs = t(s, d, "documents")
      graft.multimodal.MediaDedup.audioClipMatches(
        graft.multimodal.MediaDedup.syntheticAudioClips(docs),
        graft.multimodal.MediaDedup.syntheticAudioTracks(docs))
    },
      // audio clip-in-track replay: absolute-window energies from the two
      // planted sweeps (partial trailing window dropped via the range
      // bound), per-offset 56-bit span prints for tracks, the clips' lone
      // offset-0 print, brute-force all clip x span pairs at Hamming <= 3
      ("WITH td AS (SELECT doc_id, " +
        "CAST(800 + (doc_id % 40) * 10 AS BIGINT) AS n FROM documents), " +
        "ts AS (SELECT doc_id, n, unnest(range((n // 10) * 10)) AS p FROM td), " +
        "te AS (SELECT doc_id, p // 10 AS w, " +
        "sum(abs(((p*p*(31 + doc_id % 61) + p*(17 + doc_id % 53) " +
        "+ doc_id*53) % 4096) - 2048)) AS e " +
        "FROM ts GROUP BY 1, 2), " +
        "tn AS (SELECT doc_id, count(*) AS nw FROM te GROUP BY 1), " +
        "toff AS (SELECT doc_id, unnest(range(nw - 56)) AS o FROM tn), " +
        "tb AS (SELECT f.doc_id, f.o, l.w - f.o AS j FROM toff f " +
        "JOIN te l ON l.doc_id = f.doc_id AND l.w >= f.o AND l.w <= f.o + 55 " +
        "JOIN te r ON r.doc_id = l.doc_id AND r.w = l.w + 1 " +
        "WHERE r.e > l.e), " +
        "tf AS (SELECT toff.doc_id, toff.o, " +
        "coalesce(sum(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0) AS sfp " +
        "FROM toff LEFT JOIN tb ON toff.doc_id = tb.doc_id AND toff.o = tb.o " +
        "GROUP BY 1, 2), " +
        "cd AS (SELECT doc_id, doc_id % 4 AS role FROM documents " +
        "WHERE doc_id % 2 = 0), " +
        "cs AS (SELECT doc_id, role, unnest(range(570)) AS q FROM cd), " +
        "cp2 AS (SELECT doc_id, role, q, (doc_id % 13) * 10 + q AS p FROM cs), " +
        "ce AS (SELECT doc_id, q // 10 AS w, sum(abs(" +
        "CASE WHEN role = 0 " +
        "THEN 3 * (((p*p*(31 + doc_id % 61) + p*(17 + doc_id % 53) " +
        "+ doc_id*53) % 4096) - 2048) " +
        "ELSE ((q*q*(37 + doc_id % 59) + q*(19 + doc_id % 47) " +
        "+ doc_id*29 + 777) % 4096) - 2048 END)) AS e " +
        "FROM cp2 GROUP BY 1, 2), " +
        "cb AS (SELECT l.doc_id, l.w AS j FROM ce l " +
        "JOIN ce r ON r.doc_id = l.doc_id AND r.w = l.w + 1 WHERE r.e > l.e), " +
        "cf AS (SELECT cd.doc_id, " +
        "coalesce(sum(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0) AS sfp " +
        "FROM cd LEFT JOIN cb ON cd.doc_id = cb.doc_id GROUP BY 1) " +
        "SELECT c.doc_id AS clip_id, t.doc_id AS track_id, " +
        "CAST(t.o AS INTEGER) AS track_offset, " +
        "CAST(bit_count(xor(c.sfp, t.sfp)) AS INTEGER) AS hamming " +
        "FROM cf c JOIN tf t ON bit_count(xor(c.sfp, t.sfp)) <= 3")),
    // --- video clip-in-video one-sided containment [ext]: was this short
    // clip lifted from a longer video? q231's two-sided containment
    // (least of BOTH coverages) structurally misses it — a 2-frame clip
    // in a 6-frame video covers the long side <= 1/3. Clip frames hash at
    // full rate, the corpus keeps its everyN=2 sampled index, candidates
    // from the cross-side band-chunk join, then ONE-SIDED aggregation:
    // matched clip frames / clip frames >= 0.5. The planted clip is a
    // frame-DECIMATED re-post (every 2nd source frame), so each clip
    // frame lands exactly on the sampled index -> clip_frac 1 against its
    // source (and its source's planted near-dup). Oracle replays both
    // sides' hashes from the planted formulas (budget <= 3 s) ---
    QuerySpec("q240_video_clip_matches", { (s, d) =>
      val docs = t(s, d, "documents")
      graft.multimodal.MediaDedup.videoClipMatches(
        graft.multimodal.MediaDedup.syntheticVideoClips(docs),
        graft.multimodal.MediaDedup.syntheticNearDupVideos(docs))
    },
      // video clip replay: corpus frame hashes via the q231/q236 arithmetic
      // (sampled f % 2 = 0), clip hashes from the planted decimated/
      // distractor formulas at full rate, brute pairs at Hamming <= 3,
      // one-sided clip-coverage aggregation at >= 0.5
      ("WITH dd AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS role " +
        "FROM documents), " +
        s"$sampledVideoCtes, " +
        s"$frameMeansCte, ${frameDhashCtes("sf2")}, " +
        "cd AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 4 AS crole " +
        "FROM documents WHERE doc_id % 2 = 0), " +
        "cdm AS (SELECT doc_id, g, crole, " +
        "CAST(12 + (g % 5) * 4 AS BIGINT) AS w, " +
        "CAST(8 + ((g * 3) % 4) * 4 AS BIGINT) AS h FROM cd), " +
        "cfr AS (SELECT doc_id, g, crole, w, h, unnest(range(2)) AS f2 " +
        "FROM cdm), " +
        "cpx AS (SELECT doc_id, g, crole, w, h, f2, " +
        "unnest(range(w * h)) AS k FROM cfr), " +
        "cv AS (SELECT doc_id, f2, " +
        "CASE WHEN crole = 0 " +
        "THEN (g*29 + (2*f2)*17 + (k % w)*(3 + (g * 13) % 251) + " +
        "(k // w)*(2 + (g * 7) % 241)) % 256 " +
        "ELSE (g*61 + f2*23 + (k % w)*(7 + (g * 19) % 227) + " +
        "(k // w)*(5 + (g * 23) % 229) + 500) % 256 END AS val, " +
        "((k % w) * 8) // w AS bx, ((k // w) * 8) // h AS by FROM cpx), " +
        "cm AS (SELECT doc_id, f2, bx, by, sum(val) // count(*) AS mean " +
        "FROM cv GROUP BY 1, 2, 3, 4), " +
        "cbits AS (SELECT l.doc_id, l.f2, l.by * 7 + l.bx AS j FROM cm l " +
        "JOIN cm r ON l.doc_id = r.doc_id AND l.f2 = r.f2 AND r.by = l.by " +
        "AND r.bx = l.bx + 1 WHERE l.mean < r.mean), " +
        "cfp AS MATERIALIZED (SELECT cfr.doc_id, cfr.f2, " +
        "coalesce(sum(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0) AS dh " +
        "FROM cfr LEFT JOIN cbits ON cfr.doc_id = cbits.doc_id " +
        "AND cfr.f2 = cbits.f2 GROUP BY 1, 2), " +
        "pm AS (SELECT c.doc_id AS clip_id, fp.doc_id AS video_id, c.f2 " +
        "FROM cfp c JOIN fp ON bit_count(xor(c.dh, fp.dh)) <= 3), " +
        "agg AS (SELECT clip_id, video_id, " +
        "count(DISTINCT f2) AS matched_frames FROM pm GROUP BY 1, 2), " +
        "cnt AS (SELECT doc_id, count(*) AS n_clip_frames FROM cfp GROUP BY 1) " +
        "SELECT agg.clip_id, agg.video_id, " +
        "CAST(matched_frames AS BIGINT) AS matched_frames, " +
        "CAST(n_clip_frames AS BIGINT) AS n_clip_frames, " +
        "CAST(matched_frames AS DOUBLE) / CAST(n_clip_frames AS DOUBLE) AS clip_frac " +
        "FROM agg JOIN cnt ON agg.clip_id = cnt.doc_id " +
        "WHERE CAST(matched_frames AS DOUBLE) / CAST(n_clip_frames AS DOUBLE) >= 0.5")),
    // --- image crop containment [ext]: the cropped-meme case — cropping
    // changes whole-image dHash's normalized 8x8 grid, so the crop's and
    // source's hashes share nothing. Patch hashes over a FIXED 2px block
    // grid make every 8x8-block window a sub-rectangle of one global
    // comparison grid; a block-aligned, brightness-shifted (+30) crop
    // reproduces its source's window hash at the crop offset EXACTLY.
    // Candidates from the cross-side band-chunk join (never crops x
    // windows); the oracle replays block values, the comparison grid, and
    // window sums arithmetically (budget <= 3 s) ---
    QuerySpec("q241_image_crop_matches", { (s, d) =>
      val docs = t(s, d, "documents")
      graft.multimodal.MediaDedup.imageCropMatches(
        graft.multimodal.MediaDedup.syntheticImageCrops(docs),
        graft.multimodal.MediaDedup.syntheticCropImages(docs))
    },
      // image crop replay: block values from the planted per-block quadratic,
      // ONE global adjacent-comparison grid per image, window hashes as
      // sub-rectangle bit sums, crop prints from the shifted formula (+30 —
      // order-preserving), brute pairs at Hamming <= 3
      ("WITH dd AS (SELECT doc_id, 12 + doc_id % 4 AS gw, " +
        "10 + doc_id % 3 AS gh FROM documents), " +
        "bb AS (SELECT doc_id, gw, gh, unnest(range(gw * gh)) AS b FROM dd), " +
        "bm AS (SELECT doc_id, b % gw AS bx, b // gw AS by, " +
        "((b % gw)*(b % gw)*(13 + doc_id % 31) + " +
        "(b // gw)*(b // gw)*(7 + doc_id % 29) + " +
        "(b % gw)*(b // gw)*(3 + doc_id % 17) + doc_id*11) % 226 AS v " +
        "FROM bb), " +
        s"$patchPrintCtes, " +
        "cd AS (SELECT doc_id, doc_id % 4 AS crole, doc_id % 5 AS cox, " +
        "doc_id % 3 AS coy FROM documents WHERE doc_id % 2 = 0), " +
        "cbb AS (SELECT doc_id, crole, cox, coy, unnest(range(64)) AS b " +
        "FROM cd), " +
        "cbm AS (SELECT doc_id, b % 8 AS bx, b // 8 AS by, " +
        "CASE WHEN crole = 0 THEN " +
        "((cox + b % 8)*(cox + b % 8)*(13 + doc_id % 31) + " +
        "(coy + b // 8)*(coy + b // 8)*(7 + doc_id % 29) + " +
        "(cox + b % 8)*(coy + b // 8)*(3 + doc_id % 17) + doc_id*11) % 226 + 30 " +
        "ELSE ((b % 8)*(b % 8)*19 + (b // 8)*(b // 8)*23 + " +
        "(b % 8)*(b // 8)*29 + doc_id*7 + 99) % 226 END AS v FROM cbb), " +
        cropMatchSql)),
    // --- image quality stats [ext]: the image twin of the text quality
    // heuristics — exposure/contrast gates over DECODED pixels (header
    // metadata cannot answer "is it over-exposed or flat"). Exact-integer
    // statistics (gray sums, the n*sumsq - sum^2 variance numerator,
    // clipped-pixel counts) so the oracle replays the q217 planted pixel
    // formula arithmetically through the real decode path
    // (budget <= 3 s) ---
    QuerySpec("q242_image_quality", ((s, d) =>
      graft.multimodal.MediaDedup.imageQualityStats(
        graft.multimodal.Multimodal.syntheticPixelMedia(
          t(s, d, "documents").filter(col("doc_id") % 2 === 0)))),
      // image quality replay: per-pixel gray from the q217 planted RGBA
      // formula (floor of the channel mean), exact integer sums
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(4 + (n_chars % 13) AS BIGINT) AS w, " +
        "CAST(3 + ((n_chars * 7) % 11) AS BIGINT) AS h " +
        "FROM documents WHERE doc_id % 2 = 0), " +
        "px AS (SELECT media_id, w, h, unnest(range(w * h)) AS k FROM d), " +
        "g AS (SELECT media_id, ((media_id * 31 + 4*k) % 256 + " +
        "(media_id * 31 + 4*k + 1) % 256 + " +
        "(media_id * 31 + 4*k + 2) % 256) // 3 AS gray FROM px) " +
        "SELECT media_id, CAST(count(*) AS BIGINT) AS n_px, " +
        "CAST(sum(gray) AS BIGINT) AS sum_gray, " +
        "CAST(count(*) * sum(gray * gray) - sum(gray) * sum(gray) AS BIGINT) " +
        "AS var_num, " +
        "CAST(sum(CASE WHEN gray < 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark, " +
        "CAST(sum(CASE WHEN gray > 239 THEN 1 ELSE 0 END) AS BIGINT) AS n_bright " +
        "FROM g GROUP BY 1")),
    // --- REAL FLAC sample decode [ext]: lossless audio joins the
    // full-decode family — real fixed-predictor + Rice decoding with
    // CRC-8/16 verification (Flac.scala), fixtures from the real encoder,
    // census through the SAME format-blind sample path WAV uses
    // (pcm16Samples dispatches on magic, so contour dedup / quality /
    // containment / descriptors are all FLAC-aware for free — FlacSpec
    // pins WAV fingerprint == FLAC fingerprint). Lossless ⇒ the planted
    // formula replays arithmetically (budget <= 3 s) ---
    QuerySpec("q255_flac_sample_decode", ((s, d) =>
      graft.multimodal.Multimodal.wavSampleStats(
        graft.multimodal.Multimodal.syntheticFlacMedia(
          t(s, d, "documents"))).toDF()),
      // FLAC sample-decode replay: lossless ⇒ the planted formula IS the
      // decoded stream — constant clips every 7th doc, linear-mod sweeps
      // elsewhere, amplitude census
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 300 " +
        "ELSE 200 + (n_chars * 3) % 300 END AS BIGINT) AS n " +
        "FROM documents), " +
        "s AS (SELECT media_id, n, unnest(range(n)) AS p FROM d), " +
        "v AS (SELECT media_id, n, " +
        "CASE WHEN media_id % 7 = 0 THEN ((media_id * 31) % 4096) - 2048 " +
        "ELSE ((media_id * 23 + p * 7) % 4096) - 2048 END AS sv FROM s) " +
        pcmCensusSql(16000))),
    // --- audio ANN behind the recall gate [ext]: the q227 contract on
    // the audio modality — IVF over the 57-dim energy-contour descriptors
    // (already in the (vec_id, embedding) contract), gated by in-query
    // exact brute-force recall >= 0.5 over 10 probes; completes the
    // ANN-served similarity matrix (text/image/audio/video). Pure
    // registration over existing operators (budget <= 2 s) ---
    QuerySpec("q254_audio_ann_ivf", { (s, d) =>
      val desc = Caching.materialize(graft.multimodal.MediaDedup.audioDescriptors(
        graft.multimodal.MediaDedup.syntheticNearDupAudio(
          t(s, d, "documents"))))
      val probes = desc.filter(col("vec_id") < 10)
      Similarity.recallGate(
        Similarity.bruteForceTopK(desc, probes, 3),
        Similarity.ivfTopK(Similarity.ivfBuild(desc), probes, 3, nProbe = 8),
        minRecall = 0.5)
    },
      ("SELECT count(*) AS n_probes, CAST(3 * count(*) AS BIGINT) AS n_exact_pairs, " +
        "TRUE AS recall_ok FROM documents WHERE doc_id < 10")),
    // --- streaming JOINT multimodal ingest [ext]: the LAION any-modality
    // rule (q237/q238) composed with the ingest matrix (q196/q229/q236/
    // q244) — items are (caption, image, audio) records; a batch item is
    // rejected when ANY modality matches in-batch (union pair graph,
    // min-id keep) or against the COMMITTED lake (banded checks per
    // modality; captions verify with exact shingle Jaccard on candidates
    // only). Closes the cross-modality ingest hole: a committed image
    // re-posted under a rewritten caption lands today only if it arrives
    // via the image ingest — here it is rejected on every path. Batches
    // split by parity over the q237 fixture set; the oracle replays the
    // three modality pair arithmetics, two per-parity closures, and the
    // cross-parity rejection. Honest price ~5.2 s, measured decomposed:
    // two full ingest lifecycles (decode+sign+band+closure+commit each)
    // plus the 3-modality lake check — the per-modality twins q229+q244
    // alone sum to ~6 s, so the joint row is sub-additive (single-pass
    // dual-payload fingerprinting; image+audio lake checks merged into
    // one kind-offset banded join); the residual is fixed per-job
    // scheduling that amortizes at scale (the q223 pattern) ---
    QuerySpec("q253_joint_ingest_twin", { (s, d) =>
      val docs = t(s, d, "documents").filter(col("doc_id") < 1998)
      // single-pass fixture assembly, materialized: each batch body reads
      // its batchDf twice (fingerprints + admit join) — uncached, every
      // read re-synthesizes all payloads
      val items = Caching.materialize(
        graft.multimodal.MediaDedup.syntheticJointItems(docs))
      graft.stream.MediaIngest.jointIngestTwin(s,
        items.filter(col("item_id") % 2 === 0),
        items.filter(col("item_id") % 2 === 1))
    },
      // joint-ingest replay: the q238 union pair arithmetic split by batch
      // parity — per-parity min-id closures, then cross-parity rejection of
      // kept odds matching kept (committed) evens in ANY modality; landed
      // rows carry the replayed image dHash and audio contour prints
      (s"WITH RECURSIVE $multimodalPairCtes, " +
        "pr AS (SELECT doc_a, doc_b FROM tp " +
        "UNION SELECT doc_a, doc_b FROM ip " +
        "UNION SELECT doc_a, doc_b FROM ap), " +
        // batch 1 (even ids): in-batch any-modality closure, keep min-id
        "e1 AS (SELECT doc_a AS a, doc_b AS b FROM pr " +
        "WHERE doc_a % 2 = 0 AND doc_b % 2 = 0), " +
        "bi1 AS (SELECT a, b FROM e1 UNION ALL SELECT b, a FROM e1), " +
        "r1(n, m) AS (SELECT a, b FROM bi1 " +
        "UNION SELECT r1.n, bi1.b FROM r1 JOIN bi1 ON bi1.a = r1.m), " +
        "rm1 AS (SELECT n FROM (SELECT n, min(m) AS mn FROM r1 GROUP BY n) " +
        "WHERE mn < n), " +
        s"k1 AS (SELECT d.doc_id FROM $multimodalSrc d " +
        "LEFT JOIN rm1 ON d.doc_id = rm1.n " +
        "WHERE d.doc_id % 2 = 0 AND rm1.n IS NULL), " +
        // batch 2 (odd ids): same in-batch closure
        "e2 AS (SELECT doc_a AS a, doc_b AS b FROM pr " +
        "WHERE doc_a % 2 = 1 AND doc_b % 2 = 1), " +
        "bi2 AS (SELECT a, b FROM e2 UNION ALL SELECT b, a FROM e2), " +
        "r2(n, m) AS (SELECT a, b FROM bi2 " +
        "UNION SELECT r2.n, bi2.b FROM r2 JOIN bi2 ON bi2.a = r2.m), " +
        "rm2 AS (SELECT n FROM (SELECT n, min(m) AS mn FROM r2 GROUP BY n) " +
        "WHERE mn < n), " +
        s"k2 AS (SELECT d.doc_id FROM $multimodalSrc d " +
        "LEFT JOIN rm2 ON d.doc_id = rm2.n " +
        "WHERE d.doc_id % 2 = 1 AND rm2.n IS NULL), " +
        // cross-batch: a kept odd matching a kept (= committed) even in
        // ANY modality is rejected
        "x AS (SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS odd_id, " +
        "CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END AS even_id " +
        "FROM pr WHERE (doc_a + doc_b) % 2 = 1), " +
        "rej AS (SELECT DISTINCT x.odd_id FROM x " +
        "JOIN k1 ON x.even_id = k1.doc_id " +
        "JOIN k2 ON x.odd_id = k2.doc_id), " +
        "landed AS (SELECT doc_id FROM k1 " +
        "UNION ALL SELECT k2.doc_id FROM k2 " +
        "LEFT JOIN rej ON k2.doc_id = rej.odd_id WHERE rej.odd_id IS NULL) " +
        "SELECT l.doc_id AS item_id, CAST(fp.dhash AS BIGINT) AS dhash, " +
        "CAST(afp.afp AS BIGINT) AS afp FROM landed l " +
        "JOIN fp ON fp.doc_id = l.doc_id " +
        "JOIN afp ON afp.doc_id = l.doc_id")),
    // --- REAL baseline JPEG pixel decode [ext]: the web's dominant image
    // format joins the full-decode family (q217 PNG / q218 WAV / q222
    // GIF). DC-only fixtures (all AC coefficients zero) decode to the
    // exact closed-form block constants through REAL Huffman decode +
    // dequant + IDCT — generated canonical tables, restart markers, and
    // both the grayscale and 3-component YCbCr paths all on the gate; a
    // bug anywhere in the entropy walk hash-mismatches. General
    // coefficients are pinned against JDK ImageIO in JpegSpec
    // (budget <= 3 s) ---
    QuerySpec("q252_jpeg_pixel_decode", ((s, d) =>
      graft.multimodal.Multimodal.jpegPixelStats(
        graft.multimodal.Multimodal.syntheticJpegMedia(
          t(s, d, "documents"))).toDF()),
      // JPEG pixel-decode replay: the DC-only closed form — block k of doc
      // id decodes to the CONSTANT gray (id*31 + k*(7 + id%13)) mod 256,
      // 64 pixels per block — which the engine must earn through the real
      // Huffman + IDCT walk
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(8 * (1 + n_chars % 3) AS INTEGER) AS width, " +
        "CAST(8 * (1 + (n_chars * 7) % 2) AS INTEGER) AS height " +
        "FROM documents), " +
        "b AS (SELECT media_id, width, height, " +
        "unnest(range((width // 8) * (height // 8))) AS k FROM d), " +
        "g AS (SELECT media_id, width, height, " +
        "(media_id * 31 + k * (7 + media_id % 13)) % 256 AS gray FROM b) " +
        "SELECT media_id, width, height, " +
        "CAST(width AS BIGINT) * height AS n_pixels, " +
        "CAST(64 * sum(gray) AS BIGINT) AS sum_r, " +
        "CAST(64 * sum(gray) AS BIGINT) AS sum_g, " +
        "CAST(64 * sum(gray) AS BIGINT) AS sum_b " +
        "FROM g GROUP BY media_id, width, height")),
    // --- shared-intro (audio boilerplate) detection [ext]: the audio
    // twin of q249 — a leading span print recurring across >= 50 distinct
    // clips is template audio (podcast intro, ad sting), invisible to
    // per-clip stats; one groupBy over offset-0 prints. Fixture stamps a
    // fixed 570-sample jingle on every third clip over per-clip quadratic
    // bodies; oracle replays both formulas through the window/contour
    // arithmetic (budget <= 3 s) ---
    QuerySpec("q251_audio_boilerplate", ((s, d) =>
      graft.multimodal.MediaDedup.audioBoilerplatePrints(
        graft.multimodal.MediaDedup.syntheticIntroClips(
          t(s, d, "documents")), minClips = 50L)),
      // shared-intro replay: offset-0 window energies from the stamped/body
      // CASE, contour bits, prints grouped by distinct-clip recurrence
      ("WITH d AS (SELECT doc_id FROM documents), " +
        "sp AS (SELECT doc_id, unnest(range(570)) AS p FROM d), " +
        "v AS (SELECT doc_id, p // 10 AS w, abs(CASE WHEN doc_id % 3 = 0 " +
        "THEN ((p*p*43 + p*29 + 111) % 4096) - 2048 " +
        "ELSE ((p*p*(31 + doc_id % 61) + p*(17 + doc_id % 53) " +
        "+ doc_id*53) % 4096) - 2048 END) AS av FROM sp), " +
        "e AS (SELECT doc_id, w, sum(av) AS en FROM v GROUP BY 1, 2), " +
        "bits AS (SELECT l.doc_id, l.w AS j FROM e l " +
        "JOIN e r ON r.doc_id = l.doc_id AND r.w = l.w + 1 " +
        "WHERE r.en > l.en), " +
        "fp AS (SELECT d.doc_id, " +
        "coalesce(sum(CAST(1 AS BIGINT) << CAST(j AS INTEGER)), 0) AS sfp " +
        "FROM d LEFT JOIN bits ON d.doc_id = bits.doc_id GROUP BY 1) " +
        "SELECT CAST(sfp AS BIGINT) AS intro_print, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_clips " +
        "FROM fp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 50")),
    // --- image boilerplate / watermark region detection [ext]: the image
    // twin of the text boilerplate detector — a block mean recurring
    // VERBATIM across >= 50 distinct images at one grid position is
    // template chrome, not content (watermarks inflate perceptual
    // near-dup candidates AND leak template pixels into training data,
    // and per-image stats cannot see them by construction). One groupBy
    // over exploded block means; fixture stamps a fixed 4x2 logo on every
    // third image over per-image quadratic content; oracle replays both
    // formulas (budget <= 3 s) ---
    QuerySpec("q249_image_boilerplate", ((s, d) =>
      graft.multimodal.MediaDedup.imageBoilerplateBlocks(
        graft.multimodal.MediaDedup.syntheticWatermarkImages(
          t(s, d, "documents")), minImages = 50L)),
      // image boilerplate replay: block values from the stamped-logo CASE
      // over the per-image quadratic, grouped by (position, value)
      ("WITH d AS (SELECT doc_id FROM documents), " +
        "bb AS (SELECT doc_id, unnest(range(120)) AS b FROM d), " +
        "bm AS (SELECT doc_id, b % 12 AS bx, b // 12 AS by, " +
        "CASE WHEN doc_id % 3 = 0 AND b % 12 < 4 AND b // 12 < 2 " +
        "THEN (b % 12) * 50 + (b // 12) * 30 + 7 " +
        "ELSE ((b % 12)*(b % 12)*(13 + doc_id % 31) + " +
        "(b // 12)*(b // 12)*(7 + doc_id % 29) + " +
        "(b % 12)*(b // 12)*(3 + doc_id % 17) + doc_id*11) % 226 END AS mean " +
        "FROM bb) " +
        "SELECT CAST(bx AS INTEGER) AS bx, CAST(by AS INTEGER) AS by, " +
        "CAST(mean AS BIGINT) AS mean, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_images " +
        "FROM bm GROUP BY 1, 2, 3 HAVING count(DISTINCT doc_id) >= 50")),
    // --- THREE-format perceptual dedup [ext]: q224 extended to the full
    // image-format surface — planted (PNG, GIF, JPEG) TRIPLES of the
    // same content collide at Hamming 0 through three entirely different
    // codecs (inflate+unfilter, LZW, Huffman+IDCT); the 8x8 dHash grid
    // aligns with the JPEG DC-only blocks so the whole fixture replays
    // arithmetically (budget <= 3 s) ---
    QuerySpec("q257_triformat_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.imageNearDups(
        graft.multimodal.MediaDedup.syntheticTriFormatImages(
          t(s, d, "documents")), maxHamming = 3, bands = 4)
        .select(col("media_a"), col("media_b"),
          col("hamming").cast("int").as("hamming"))),
      // tri-format dHash replay: the 8x8 block-constant grid IS the dHash
      // mean grid (8-px blocks align), one formula for all three formats;
      // brute-force pairs at Hamming <= 3
      ("WITH dd AS (SELECT doc_id, doc_id // 3 AS g FROM documents), " +
        "cell AS (SELECT doc_id, g, unnest(range(64)) AS c FROM dd), " +
        "m AS (SELECT doc_id, c % 8 AS bx, c // 8 AS by, " +
        "(g*29 + (c % 8)*(c % 8)*(3 + (g % 7) * 9) + " +
        "(c // 8)*(c // 8)*(2 + (g % 5) * 7) + " +
        "(c % 8)*(c // 8)*(5 + (g % 11) * 3)) % 256 AS mean FROM cell), " +
        s"${dhashCtes("fp AS", "dd", "h")} " +
        hammingPairsSql("h"))),
    // --- BMP + uncompressed-TIFF decode [ext]: trivial public byte
    // layouts (no entropy coding) that real crawls still carry —
    // bottom-up AND top-down 24-bit BMP, 8-bit palette BMP, 32-bit BMP
    // whose RESERVED fourth byte is planted junk the decode must drop,
    // II and MM TIFF, multi-strip gray, RGB, 16-bit-ColorMap palette,
    // and WhiteIsZero storing the INVERTED value. One displayed-gray
    // closed form across all eight variants; the census is the
    // position-sensitive block-means table (a bottom-up flip or strip
    // mis-stitch permutes rows; sums are permutation-blind). Both
    // formats join the whole format-blind image surface (dHash dedup,
    // crop search, gates, descriptors) through the one decodeStillRgba
    // seam — cross-format PNG==BMP==TIFF collisions are spec-pinned
    // (budget <= 3 s) ---
    QuerySpec("q271_raster_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticRasterMedia(
          t(s, d, "documents")), blockPx = 2)),
      (s"WITH $rasterPixelCtes, " +
        s"$rasterGrayCte, " +
        blockMeansSql)),
    // --- WebP VP8L lossless decode [ext]: the top real-crawl image
    // format that was still `unknown_magic` — a from-scratch RFC-9649
    // VP8L bitstream decoder (canonical prefix codes, LZ77 backward
    // refs, color cache, meta prefix tiling, and all four transforms:
    // predictor / cross-color / subtract-green / color-indexing with
    // sub-byte bundling), routed through the one decodeStillRgba seam so
    // dHash dedup, crop search, gates, descriptors, and boilerplate see
    // WebP with ZERO operator changes. Fixtures rotate six encoder paths
    // (plain / subtract-green / palette / each predictor / cache+LZ77
    // over row pairs / cross-color inside a VP8X extended container);
    // VP8L is LOSSLESS so one planted closed form replays exactly; the
    // census is the position-sensitive block-means table (budget
    // <= 3 s) ---
    QuerySpec("q272_webp_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticWebpMedia(
          t(s, d, "documents")), blockPx = 2)),
      // WebP replay: ONE quadratic displayed-gray formula (prime-modulus
      // per-item coefficients) across the six VP8L encoder paths — the
      // palette variant quantizes to 16 levels, the cache+LZ77 variant
      // plants row pairs (y - y%2); the engine earns each value through a
      // different lossless bitstream (transforms invert exactly)
      (s"WITH $rasterPixelCtes, " +
        "c AS (SELECT media_id, w, h, k % w AS x, k // w AS y, " +
        "CASE WHEN media_id % 6 = 4 THEN (k // w) - (k // w) % 2 " +
        "ELSE k // w END AS fy FROM px), " +
        "v AS (SELECT media_id, w, h, x, y, " +
        "(x*x*(5 + media_id % 31) + fy*fy*(7 + media_id % 23) + " +
        "x*fy*(3 + media_id % 13) + media_id*29) % 241 AS f0 FROM c), " +
        "g AS (SELECT media_id, w, h, x // 2 AS bx, y // 2 AS by, " +
        "CASE WHEN media_id % 6 = 2 THEN (f0 % 16) * 16 + 3 " +
        "ELSE f0 END AS gray FROM v), " +
        blockMeansSql)),
    // --- PNG <-> WebP cross-format perceptual dedup [ext]: planted
    // pairs of the same displayed content collide at Hamming 0 through
    // entirely different codecs (inflate+unfilter vs VP8L prefix-code
    // bitstreams, rotating plain / subtract-green / color-indexed), the
    // q224/q257 contract extended to the fourth image format family;
    // the 8x8 constant cells align with the dHash mean grid so the
    // fixture replays arithmetically (budget <= 3 s) ---
    QuerySpec("q273_webp_crossformat_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.imageNearDups(
        graft.multimodal.MediaDedup.syntheticWebpPairImages(
          t(s, d, "documents")), maxHamming = 3, bands = 4)
        .select(col("media_a"), col("media_b"),
          col("hamming").cast("int").as("hamming"))),
      // PNG<->WebP replay: the q257 dHash arithmetic over this fixture's
      // pair grouping (g = doc_id // 2) and cell coefficients — the oracle
      // never sees a codec, only the planted 8x8 cell grid
      ("WITH dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        "cell AS (SELECT doc_id, g, unnest(range(64)) AS c FROM dd), " +
        "m AS (SELECT doc_id, c % 8 AS bx, c // 8 AS by, " +
        "(g*31 + (c % 8)*(c % 8)*(7 + (g % 5) * 9) + " +
        "(c // 8)*(c // 8)*(3 + (g % 7) * 5) + " +
        "(c % 8)*(c // 8)*(11 + (g % 3) * 13)) % 256 AS mean FROM cell), " +
        s"${dhashCtes("fp AS", "dd", "h")} " +
        hammingPairsSql("h"))),
    // --- MP4/MP3/Ogg container metadata census [ext]: the crawl-MAJORITY
    // media containers become MEASURED (codec fourcc, dims, duration,
    // channels, rate, bitrate from the published ISO-BMFF box / MPEG
    // frame-header / Ogg page layouts) instead of `unknown_magic` — no
    // codec decode, so the walk runs at scan speed (partition-local
    // mapPartitions touching only header bytes; at 100 TB this is what
    // routes payloads to the right pipeline). Fixtures cycle avc1 MP4 /
    // two-track hev1+mp4a MP4 / MPEG1+2 Layer-III with earned ID3v2
    // syncsafe skips / Ogg vorbis / Ogg opus; every field is a closed
    // form of doc_id (budget <= 3 s) ---
    QuerySpec("q274_container_meta", ((s, d) =>
      graft.multimodal.Multimodal.containerMediaMeta(
        graft.multimodal.Multimodal.syntheticContainerMedia(
          t(s, d, "documents"))).toDF()),
      // container replay: every parsed field (codec fourcc, tkhd dims,
      // mvhd duration at its timescale, MPEG frame-header tables, Ogg id
      // headers) is a closed form of doc_id; NULL where the format has no
      // such concept — the engine must EARN each value through the real
      // box/frame/page walk
      ("WITH d AS (SELECT doc_id AS media_id, doc_id % 5 AS v " +
        "FROM documents), " +
        "r AS (SELECT media_id, v, " +
        "CASE WHEN v IN (0, 1) THEN 'mp4' WHEN v = 2 THEN 'mp3' " +
        "ELSE 'ogg' END AS format, " +
        "CASE v WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1' " +
        "WHEN 2 THEN (CASE WHEN media_id % 2 = 0 THEN 'mpeg1-L3' " +
        "ELSE 'mpeg2-L3' END) " +
        "WHEN 3 THEN 'vorbis' ELSE 'opus' END AS codec, " +
        "CASE v WHEN 0 THEN 320 + (media_id % 5) * 16 " +
        "WHEN 1 THEN 640 + (media_id % 3) * 64 END AS width, " +
        "CASE v WHEN 0 THEN 240 + (media_id % 7) * 16 " +
        "WHEN 1 THEN 360 + (media_id % 4) * 36 END AS height, " +
        "CASE v WHEN 0 THEN 1000 + (media_id * 7) % 9000 " +
        "WHEN 1 THEN ((600 + (media_id * 11) % 6000) * 1000) // 600 " +
        "END AS duration_ms, " +
        "CASE v WHEN 1 THEN (CASE media_id % 3 WHEN 0 THEN 32000 " +
        "WHEN 1 THEN 44100 ELSE 48000 END) " +
        "WHEN 2 THEN (CASE WHEN media_id % 2 = 0 " +
        "THEN (CASE media_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 " +
        "ELSE 32000 END) " +
        "ELSE (CASE media_id % 3 WHEN 0 THEN 22050 WHEN 1 THEN 24000 " +
        "ELSE 16000 END) END) " +
        "WHEN 3 THEN 8000 + (media_id % 5) * 8000 " +
        "WHEN 4 THEN 48000 END AS sample_rate, " +
        "CASE v WHEN 1 THEN 1 + media_id % 2 " +
        "WHEN 2 THEN (CASE WHEN media_id % 4 < 2 THEN 1 ELSE 2 END) " +
        "WHEN 3 THEN 1 + media_id % 2 " +
        "WHEN 4 THEN 1 + media_id % 2 END AS channels, " +
        "CASE WHEN v = 2 THEN (CASE WHEN media_id % 2 = 0 " +
        "THEN (CASE 1 + media_id % 7 WHEN 1 THEN 32 WHEN 2 THEN 40 " +
        "WHEN 3 THEN 48 WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80 " +
        "ELSE 96 END) " +
        "ELSE (CASE 1 + media_id % 7 WHEN 1 THEN 8 WHEN 2 THEN 16 " +
        "WHEN 3 THEN 24 WHEN 4 THEN 32 WHEN 5 THEN 40 WHEN 6 THEN 48 " +
        "ELSE 56 END) END) END AS bitrate_kbps, " +
        "CASE v WHEN 0 THEN 1 WHEN 1 THEN 2 END AS n_tracks FROM d) " +
        "SELECT media_id, format, codec, " +
        "CAST(width AS INTEGER) AS width, " +
        "CAST(height AS INTEGER) AS height, " +
        "CAST(duration_ms AS BIGINT) AS duration_ms, " +
        "CAST(sample_rate AS INTEGER) AS sample_rate, " +
        "CAST(channels AS INTEGER) AS channels, " +
        "CAST(bitrate_kbps AS INTEGER) AS bitrate_kbps, " +
        "CAST(n_tracks AS INTEGER) AS n_tracks FROM r")),
    // --- ID3v2 text-frame extraction [ext]: the audio-metadata twin of
    // the container census — curation pipelines filter and label audio
    // on TIT2/TPE1/TALB; the walk parses BOTH frame-size layouts
    // (v2.3 plain big-endian, v2.4 syncsafe) and all four declared text
    // encodings, skips non-text frames by size, stops at legal zero
    // padding, and fails by name on hostile sizes. One row per frame,
    // header bytes only — scan speed (budget <= 3 s) ---
    QuerySpec("q278_id3_text_frames", ((s, d) =>
      graft.multimodal.Multimodal.audioTagMeta(
        graft.multimodal.Multimodal.syntheticTaggedAudioMedia(
          t(s, d, "documents"))).toDF()),
      // WAV-depth replay: the depth CASE — 8-bit through (u-128)*256,
      // 16- and 24-bit through the shared planted formula (the 24-bit
      // low-byte noise vanishes in the conversion)
      // raster replay: ONE quadratic displayed-gray formula (prime-modulus
      // per-item coefficients) across all eight BMP/TIFF layout variants —
      // the engine earns it through eight different byte walks (row flips,
      // palettes, strips, byte orders, the WhiteIsZero inversion)
      // ID3 replay: the planted (frame, value) closed forms — the engine
      // earns each row through a different size layout and text encoding
      ("WITH d AS (SELECT doc_id AS media_id FROM documents), " +
        "f AS (SELECT media_id, 'TIT2' AS frame_id, " +
        "'title-' || CAST((media_id * 7) % 1000 AS VARCHAR) AS value FROM d " +
        "UNION ALL SELECT media_id, 'TPE1', " +
        "'artist-' || CAST((media_id * 13) % 100 AS VARCHAR) FROM d " +
        "UNION ALL SELECT media_id, 'TALB', " +
        "'album-' || CAST((media_id * 11) % 50 AS VARCHAR) FROM d " +
        "WHERE media_id % 3 = 0) " +
        "SELECT media_id, frame_id, value FROM f")),
    // --- unified container text tags [ext]: q278's twins for the TWO
    // majority containers that still returned no curation labels — the
    // MP4 moov→udta→meta→ilst atom walk (meta is a FULLBOX; ©nam/©ART/
    // ©alb UTF-8 data atoms) and the Ogg comment header (Vorbis-comment
    // block behind 0x03"vorbis" / "OpusTags", packets reassembled
    // ACROSS pages by the RFC 3533 lacing rules), plus ID3v2 under the
    // same normalized field vocabulary. Fixtures earn mixed-case Vorbis
    // field names, a >255-byte comment packet spanning two pages, ID3v2
    // extended headers and unsynchronisation. Header bytes only — scan
    // speed (budget <= 3 s) ---
    QuerySpec("q279_container_text_tags", ((s, d) =>
      graft.multimodal.Multimodal.containerTextTags(
        graft.multimodal.Multimodal.syntheticTaggedContainerMedia(
          t(s, d, "documents"))).toDF()),
      // container-tag replay: the planted (format, field, value) closed
      // forms — the engine earns each row through a different walk (ilst
      // atoms, cross-page Ogg comment reassembly incl. the >255-byte
      // spanning packet, ID3v2 ext-header/unsync layouts); rows arrive
      // unordered (the driver sorts before hashing)
      ("WITH d AS (SELECT doc_id AS media_id, doc_id % 4 AS v " +
        "FROM documents), " +
        "t AS (" +
        "SELECT media_id, 'mp4' AS format, 'title' AS field, " +
        "'mv-title-' || CAST((media_id * 7) % 1000 AS VARCHAR) AS value " +
        "FROM d WHERE v = 0 " +
        "UNION ALL SELECT media_id, 'mp4', 'artist', " +
        "'mv-artist-' || CAST((media_id * 13) % 100 AS VARCHAR) " +
        "FROM d WHERE v = 0 " +
        "UNION ALL SELECT media_id, 'mp4', 'album', " +
        "'mv-album-' || CAST((media_id * 11) % 50 AS VARCHAR) " +
        "FROM d WHERE v = 0 AND media_id % 3 = 0 " +
        "UNION ALL SELECT media_id, 'ogg', 'title', " +
        "'og-title-' || CAST((media_id * 7) % 1000 AS VARCHAR) " +
        "FROM d WHERE v = 1 " +
        "UNION ALL SELECT media_id, 'ogg', 'artist', " +
        "'og-artist-' || CAST((media_id * 13) % 100 AS VARCHAR) " +
        "FROM d WHERE v = 1 " +
        "UNION ALL SELECT media_id, 'ogg', 'genre', " +
        "'og-genre-' || CAST((media_id * 3) % 20 AS VARCHAR) " +
        "FROM d WHERE v = 1 AND media_id % 5 = 0 " +
        "UNION ALL SELECT media_id, 'ogg', 'description', " +
        "repeat('x', CAST(256 + media_id % 40 AS INTEGER)) " +
        "FROM d WHERE v = 1 AND media_id % 7 = 0 " +
        "UNION ALL SELECT media_id, 'ogg', 'title', " +
        "'op-title-' || CAST((media_id * 7) % 1000 AS VARCHAR) " +
        "FROM d WHERE v = 2 " +
        "UNION ALL SELECT media_id, 'ogg', 'album', " +
        "'op-album-' || CAST((media_id * 11) % 50 AS VARCHAR) " +
        "FROM d WHERE v = 2 " +
        "UNION ALL SELECT media_id, 'mp3', 'title', " +
        "'id3-title-' || CAST((media_id * 7) % 1000 AS VARCHAR) " +
        "FROM d WHERE v = 3 " +
        "UNION ALL SELECT media_id, 'mp3', 'artist', " +
        "'id3-artist-' || CAST((media_id * 13) % 100 AS VARCHAR) " +
        "FROM d WHERE v = 3) " +
        "SELECT media_id, format, field, value FROM t")),
    // --- LOSSY VP8 WebP decode [ext]: the MAJORITY real-crawl WebP
    // profile, decoded by a from-scratch RFC 6386 keyframe decoder
    // (bool arithmetic decoder, all intra modes, token trees, inverse
    // DCT/WHT, loop filter, fancy chroma upsampling + fixed-point
    // YUV→RGB — pinned byte-exact against the system libwebp's own
    // decode in Vp8Spec). Fixtures plant 4x4-px uniform cells whose
    // coefficients quantize EXACTLY (the in-repo Vp8Enc encoder), so a
    // LOSSY pipeline replays closed-form: the census is the 8x8
    // block-mean table of the DISPLAYED grays, whose fixed-point
    // YUV→RGB map the oracle reproduces in integer arithmetic
    // (budget <= 3 s) ---
    QuerySpec("q280_lossy_webp_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticLossyWebpMedia(
          t(s, d, "documents")), blockPx = 4)),
      // lossy-WebP replay: the planted 4x4-cell quadratic, pushed through
      // the DISPLAY map in integer arithmetic (fixed-point luma scale,
      // studio-range offsets, >>6 clip — spelled GREATEST-before-division
      // so no negative floor ambiguity); the engine EARNS each mean
      // through the full RFC 6386 decode
      ("WITH d AS (SELECT doc_id AS media_id FROM documents), " +
        "cells AS (SELECT media_id, unnest(range(64)) AS k FROM d), " +
        "v AS (SELECT media_id, k % 8 AS bx, k // 8 AS by, " +
        "((k % 8)*(k % 8)*(11 + media_id % 23) + " +
        "(k // 8)*(k // 8)*(5 + media_id % 19) + " +
        "(k % 8)*(k // 8)*(3 + media_id % 13) + media_id*17) % 54 * 4 + 16 " +
        "AS y FROM cells), " +
        "g AS (SELECT media_id, bx, by, (19077 * y) // 256 AS yy FROM v) " +
        "SELECT media_id, CAST(bx AS INTEGER) AS bx, " +
        "CAST(by AS INTEGER) AS by, " +
        "CAST((2 * LEAST(GREATEST(yy - 1160, 0) // 64, 255) + " +
        "LEAST(GREATEST(yy - 1161, 0) // 64, 255)) // 3 AS BIGINT) AS mean " +
        "FROM g")),
    // --- PNG <-> LOSSY-WebP cross-codec perceptual dedup [ext]: planted
    // pairs of the same displayed content collide at Hamming 0 across a
    // LOSSLESS and a LOSSY codec — possible because the lossy fixture's
    // coefficients quantize exactly and the display map is strictly
    // increasing over the planted value family, so every dHash
    // comparison bit survives the codec; the oracle replays BOTH
    // members' fingerprints (the PNG's planted grays, the WebP's
    // displayed grays through the integer YUV→RGB map) and the full
    // banded pair set (budget <= 3 s) ---
    QuerySpec("q281_lossy_crossformat_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.imageNearDups(
        graft.multimodal.MediaDedup.syntheticLossyPairImages(
          t(s, d, "documents")), maxHamming = 3, bands = 4)
        .select(col("media_a"), col("media_b"),
          col("hamming").cast("int").as("hamming"))),
      ("WITH dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        "cell AS (SELECT doc_id, g, unnest(range(64)) AS c FROM dd), " +
        "pv AS (SELECT doc_id, c % 8 AS bx, c // 8 AS by, " +
        "((c % 8)*(c % 8)*(7 + (g % 5) * 9) + " +
        "(c // 8)*(c // 8)*(3 + (g % 7) * 5) + " +
        "(c % 8)*(c // 8)*(11 + (g % 3) * 13) + g * 31) % 54 * 4 + 16 " +
        "AS v FROM cell), " +
        "m AS (SELECT doc_id, bx, by, CASE WHEN doc_id % 2 = 0 THEN v " +
        "ELSE (2 * LEAST(GREATEST((19077 * v) // 256 - 1160, 0) // 64, 255) + " +
        "LEAST(GREATEST((19077 * v) // 256 - 1161, 0) // 64, 255)) // 3 " +
        "END AS mean FROM pv), " +
        s"${dhashCtes("fp AS", "dd", "h")} " +
        hammingPairsSql("h"))),
    // --- WAV fmt-LAYOUT matrix decode [ext]: the two real-crawl fmt
    // layouts beyond canonical PCM — IEEE float32 (fmt tag 3, what DAWs
    // export) and WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE with the real tag
    // in the ksmedia SubFormat GUID, what Windows capture stacks emit)
    // — plus 32-bit int PCM, previously all named failures. Fixtures
    // cycle plain-float/extensible-float/extensible-PCM16/plain-int32;
    // every profile plants the SAME int16 value per sample (floats
    // store k/32768, exact in float32; int32 stores k·2^16), so ONE
    // formula oracles the whole matrix through q270's census shape
    // (budget <= 3 s) ---
    QuerySpec("q282_wav_fmt_census", ((s, d) =>
      graft.multimodal.Multimodal.wavSampleStats(
        graft.multimodal.Multimodal.syntheticWavFmtMedia(
          t(s, d, "documents"))).toDF()),
      // fmt-matrix replay: every profile (plain/extensible float32,
      // extensible PCM16, int32 PCM) plants the SAME int16 value per
      // sample, so q270's census formula covers the whole matrix with no
      // per-profile CASE — the engine EARNS the equality through four
      // different fmt-chunk walks and three sample conversions
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(200 + (doc_id * 7) % 200 AS BIGINT) AS n FROM documents), " +
        "s AS (SELECT media_id, n, unnest(range(n)) AS p FROM d), " +
        "v AS (SELECT media_id, n, " +
        "((media_id*23 + p*7) % 4096) - 2048 AS sv FROM s) " +
        pcmCensusSql(16000))),
    // --- COMPRESSED TIFF decode [ext]: real scanner/archival TIFFs are
    // LZW (the TIFF variant with the spec's famous EARLY code-size
    // change), Deflate, or PackBits compressed, usually with the
    // horizontal-differencing predictor — all previously named
    // failures. Each strip decompresses to EXACTLY its geometric size
    // (hostile expansions fail by name), the predictor accumulates per
    // sample channel, and the whole matrix is cross-pinned against the
    // JDK's own ImageIO TIFF plugin in BOTH directions (RasterSpec).
    // Fixtures rotate codec x predictor x photometric x byte order x
    // strip layout over q271's closed form, so ONE formula oracles
    // eight decode paths; census = position-sensitive block means
    // (budget <= 3 s) ---
    QuerySpec("q283_tiff_compressed_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticTiffCompressedMedia(
          t(s, d, "documents")), blockPx = 2)),
      // compressed-TIFF replay: q271's closed form verbatim — the engine
      // earns it through eight different codec x predictor strip paths
      (s"WITH $rasterPixelCtes, " +
        s"$rasterGrayCte, " +
        blockMeansSql)),
    // --- Sun AU + AIFF decode [ext]: the pre-streaming-era audio
    // containers old crawls still carry — AU's 24-byte big-endian
    // header (u-law is its DEFAULT encoding; signed PCM8, unlike WAV's
    // unsigned; PCM16 BE) and AIFF's IFF chunks (COMM with the sample
    // rate as a REAL 80-bit IEEE extended float, parsed exactly; SSND
    // offset preamble; big-endian signed PCM at 8/16 bits), both routed
    // through the ONE pcm16Samples magic dispatch so every audio
    // operator inherits them (budget <= 3 s) ---
    QuerySpec("q291_legacy_audio_census", ((s, d) =>
      graft.multimodal.Multimodal.wavSampleStats(
        graft.multimodal.Multimodal.syntheticLegacyAudioMedia(
          t(s, d, "documents"))).toDF()),
      // legacy-audio replay: u-law codes through the published expansion,
      // PCM16 through the planted family, signed PCM8 through the <<8
      // scale; rates/containers CASE by profile
      ("WITH d AS (SELECT doc_id AS media_id, doc_id % 4 AS v, " +
        "CAST(200 + (doc_id * 7) % 200 AS BIGINT) AS n FROM documents), " +
        "s AS (SELECT media_id, v, n, unnest(range(n)) AS p FROM d), " +
        "ul AS (SELECT media_id, n, " +
        "255 - CAST((media_id*29 + p*13) % 256 AS INTEGER) AS u " +
        "FROM s WHERE v = 0), " +
        s"$ulawCte, " +
        "pv AS (SELECT media_id, n, " +
        "((media_id*23 + p*7) % 4096) - 2048 AS sv FROM s " +
        "WHERE v IN (1, 2)), " +
        "p8 AS (SELECT media_id, n, " +
        "(((media_id*29 + p*13) % 256) - 128) * 256 AS sv FROM s " +
        "WHERE v = 3), " +
        "allv AS (SELECT * FROM uv UNION ALL SELECT * FROM pv " +
        "UNION ALL SELECT * FROM p8) " +
        "SELECT allv.media_id, CAST(1 AS INTEGER) AS channels, " +
        "CAST(CASE WHEN allv.media_id % 4 IN (0, 1) THEN 8000 " +
        "ELSE 44100 END AS INTEGER) AS sample_rate, " +
        "allv.n AS n_samples, " +
        "CAST(sum(abs(sv)) AS BIGINT) AS sum_abs, " +
        "CAST(max(abs(sv)) AS BIGINT) AS peak " +
        "FROM allv GROUP BY allv.media_id, allv.n")),
    // --- BI_RLE4 BMP decode [ext]: the 4-bit sibling of q287 — encoded
    // runs alternate the run byte's two nibbles, absolute mode packs
    // nibbles word-aligned, the same four escapes; fixtures alternate
    // whole-row absolute and two-pixel encoded runs per row so both
    // modes land in the oracle through a 16-entry x17 gray ramp
    // (budget <= 3 s) ---
    QuerySpec("q294_bmp_rle4_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticBmpRle4Media(
          t(s, d, "documents")), blockPx = 2)),
      // RLE4 replay: the q271 quadratic reduced mod 16 through the x17
      // identity ramp — one closed form across both RLE4 modes
      (s"WITH $rasterPixelCtes, " +
        "g AS (SELECT media_id, w, h, (k % w) // 2 AS bx, (k // w) // 2 AS by, " +
        "(((k % w)*(k % w)*(7 + media_id % 29) + " +
        "(k // w)*(k // w)*(11 + media_id % 17) + " +
        "(k % w)*(k // w)*(5 + media_id % 11) + media_id*23) % 16) * 17 " +
        "AS gray FROM px), " +
        blockMeansSql)),
    // --- learned-encoder serving lifecycle [ext]: the last §8 slot,
    // EXECUTED — a seeded integer random projection stands in for the
    // learned embedding extractor (no model weights exist in this
    // environment), but the serving architecture around it is the real
    // one, run end-to-end: train -> persist a VERSIONED lake artifact
    // (weights + meta) -> driver load + validate -> broadcast the blob ->
    // per-JVM model BUILD inside mapPartitions (the ONNX/torch session
    // seam, executed rather than documented) -> batch-encode the q226
    // classical descriptors. Integer weights x integer descriptor dims
    // mean every projected coordinate replays ARITHMETICALLY in the
    // oracle (budget <= 3 s) ---
    QuerySpec("q295_learned_encoder_serve", { (s, d) =>
      val desc = graft.multimodal.MediaDedup.imageDescriptors(
        graft.multimodal.MediaDedup.syntheticCrossFormatImages(
          t(s, d, "documents")))
      val lake = graft.tables.TempLakes.lake(s, "graft_encoder_lake")
      graft.multimodal.LearnedEncoder.saveEncoder(lake, "m",
        graft.multimodal.LearnedEncoder.trainProjection(s, 88, 16, 7L),
        88, 16, 7L)
      graft.multimodal.LearnedEncoder.encodeWithModel(
          graft.multimodal.LearnedEncoder.loadEncoder(lake, "m"), desc)
        .select(col("vec_id").as("media_id"), posexplode(col("embedding")))
        .select(col("media_id"), col("pos").cast("int").as("dim"),
          col("col").cast("long").as("value"))
    },
      // learned-encoder replay: the q226 descriptor CTEs feed the seeded
      // projection's closed-form integer weights — the oracle recomputes
      // descriptor AND matrix multiply arithmetically (weights and dims
      // are exact integers, sums far below 2^53)
      ("WITH dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        s"$imageDescriptorCtes, " +
        "od AS (SELECT unnest(range(16)) AS o), " +
        "pr AS (SELECT fl.doc_id AS media_id, od.o AS dim, " +
        "sum(((7*31 + od.o*293 + fl.dim*181 + od.o*fl.dim*97) % 127 - 63) * fl.v) AS value " +
        "FROM fl CROSS JOIN od GROUP BY 1, 2) " +
        "SELECT media_id, CAST(dim AS INTEGER) AS dim, " +
        "CAST(value AS BIGINT) AS value FROM pr")),
    // --- MS ADPCM WAV decode [ext]: the OTHER legacy WAV block codec
    // (fmt tag 2) — per-channel block headers (coefficient-pair index,
    // iDelta, the two seed samples played oldest-first), the file's own
    // declared coefficient table, nibbles HIGH-first with channels
    // alternating per nibble, the published adaptation table with the
    // delta floor at 16. Fixtures plant pair 0 (256, 0) with equal seed
    // samples and zero nibbles so each block decodes to its planted
    // constant; the full prediction/adaptation math is hand-vector-
    // pinned in spec (budget <= 3 s) ---
    QuerySpec("q293_wav_msadpcm_census", ((s, d) =>
      graft.multimodal.Multimodal.wavSampleStats(
        graft.multimodal.Multimodal.syntheticWavMsAdpcmMedia(
          t(s, d, "documents"))).toDF()),
      // MS ADPCM replay: every block decodes to its planted seed value
      // (12 samples each at the fixture geometry)
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(3 + doc_id % 3 AS BIGINT) AS nb FROM documents), " +
        "blk AS (SELECT media_id, nb, unnest(range(nb)) AS b FROM d), " +
        "v AS (SELECT media_id, nb, " +
        "((media_id*31 + b*137) % 4096) - 2048 AS pred FROM blk) " +
        "SELECT media_id, CAST(1 AS INTEGER) AS channels, " +
        "CAST(8000 AS INTEGER) AS sample_rate, " +
        "CAST(nb * 12 AS BIGINT) AS n_samples, " +
        "CAST(12 * sum(abs(pred)) AS BIGINT) AS sum_abs, " +
        "CAST(max(abs(pred)) AS BIGINT) AS peak " +
        "FROM v GROUP BY media_id, nb")),
    // --- AVI SOUNDTRACK extraction + WAV cross-container dedup [ext]:
    // real crawl AVIs carry an 'auds' stream the video surface ignores
    // and the audio surface previously couldn't reach — decodeAviAudio
    // walks the same shallow RIFF tree, reads the auds WAVEFORMATEX
    // (PCM only, by name), collects that stream's 'NNwb' chunks by its
    // strl POSITION, and the one pcm16Samples dispatch routes AVIs on
    // the audio surface through it — so a WAV re-encode of an AVI's
    // soundtrack collides contour-for-contour with the video payload
    // invisible. The video walk is now stream-aware (an auds strf no
    // longer trips the BITMAPINFOHEADER validation) (budget <= 3 s) ---
    QuerySpec("q292_avi_soundtrack_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.audioNearDups(
        graft.multimodal.MediaDedup.syntheticAviSoundtrackPairs(
          t(s, d, "documents")), maxHamming = 3, bands = 4)
        .select(col("media_a"), col("media_b"),
          col("hamming").cast("int").as("hamming"))),
      // soundtrack replay: q220's contour-fingerprint arithmetic with this
      // fixture's sample family — both pair members decode the SAME
      // samples (the oracle never sees the containers), so the full pair
      // set falls out of one fingerprint per doc
      ("WITH dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        "dm AS (SELECT doc_id, g, " +
        "CAST(128 + (g % 64) * 4 AS BIGINT) AS n FROM dd), " +
        "s AS (SELECT doc_id, g, n, unnest(range(n)) AS p FROM dm), " +
        "v AS (SELECT doc_id, (p * 57) // n AS wdx, " +
        "abs(((g*29 + p*p*(7 + g % 13) + p*11) % 4096) - 2048) AS av " +
        "FROM s), " +
        "e AS (SELECT doc_id, wdx, sum(av) AS energy FROM v GROUP BY 1, 2), " +
        s"${audioPrintCtes("fp AS")} " +
        hammingPairsSql("afp"))),
    // --- IMA ADPCM WAV decode [ext]: the 4-bit block-structured codec
    // of telephony and game audio (fmt tag 0x11) — per-block headers
    // (predictor sample, step index) then nibble groups round-robin per
    // channel, the published step/index tables, both clamps. Fixtures
    // plant the block predictor with zero nibbles at index 0 (step 7 →
    // diff 0), so each block decodes to its planted constant and the
    // oracle replays the census without recursing the step table; the
    // full nibble math is hand-vector-pinned in spec (budget <= 3 s) ---
    QuerySpec("q290_wav_adpcm_census", ((s, d) =>
      graft.multimodal.Multimodal.wavSampleStats(
        graft.multimodal.Multimodal.syntheticWavAdpcmMedia(
          t(s, d, "documents"))).toDF()),
      // ADPCM replay: every block decodes to its planted predictor (17
      // samples each at the fixture geometry)
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(3 + doc_id % 3 AS BIGINT) AS nb FROM documents), " +
        "blk AS (SELECT media_id, nb, unnest(range(nb)) AS b FROM d), " +
        "v AS (SELECT media_id, nb, " +
        "((media_id*23 + b*131) % 4096) - 2048 AS pred FROM blk) " +
        "SELECT media_id, CAST(1 AS INTEGER) AS channels, " +
        "CAST(8000 AS INTEGER) AS sample_rate, " +
        "CAST(nb * 17 AS BIGINT) AS n_samples, " +
        "CAST(17 * sum(abs(pred)) AS BIGINT) AS sum_abs, " +
        "CAST(max(abs(pred)) AS BIGINT) AS peak " +
        "FROM v GROUP BY media_id, nb")),
    // --- WIDE-sampling JPEG decode [ext]: sampling factors 3 and 4 —
    // DV-lineage 4:1:1, 3:1:1, their vertical transposes, and the
    // T.81 10-blocks-per-MCU boundary case 4x2 — were a named census
    // bucket; the MCU walk and the sample-replication assembler were
    // already factor-generic, so the close is the spec bound itself
    // (sum of Hi·Vi <= 10, B.2.2) plus fixtures that earn each layout
    // through wide MCUs with restart markers. Quadrant census over
    // DC-only closed-form blocks; dims exact MCU multiples per variant
    // (budget <= 3 s) ---
    QuerySpec("q289_jpeg_sampling_census", ((s, d) =>
      graft.multimodal.Multimodal.jpegQuadrantStats(
        graft.multimodal.Multimodal.syntheticJpegSampledMedia(
          t(s, d, "documents"))).toDF()),
      // wide-sampling replay: the q266 DC-only closed form with
      // variant-dependent dims — the engine earns it through four
      // different wide-MCU walks
      ("WITH d AS (SELECT doc_id AS media_id, doc_id % 5 AS v " +
        "FROM documents), " +
        "dm AS (SELECT media_id, " +
        "CAST(CASE v WHEN 0 THEN 32 WHEN 1 THEN 16 WHEN 2 THEN 48 " +
        "WHEN 3 THEN 16 ELSE 32 END AS INTEGER) AS width, " +
        "CAST(CASE v WHEN 0 THEN 16 WHEN 1 THEN 32 WHEN 2 THEN 16 " +
        "WHEN 3 THEN 48 ELSE 16 END AS INTEGER) AS height FROM d), " +
        "b AS (SELECT media_id, width, height, " +
        "unnest(range((width // 8) * (height // 8))) AS k FROM dm), " +
        "g AS (SELECT media_id, width, height, " +
        "k % (width // 8) AS bx, k // (width // 8) AS by, " +
        "(media_id * 41 + k * (13 + media_id % 19)) % 256 AS gray FROM b) " +
        jpegQuadrantSql)),
    // --- BI_RLE8 BMP decode [ext]: the icon/screenshot era's dominant
    // compressed BMP — run-length pairs with the four escapes (EOL,
    // EOB, delta with skipped-pixels-stay-index-0, absolute mode with
    // word alignment), bottom-up only per spec; fixtures alternate
    // run-friendly content (encoded-run mode) with the q271 quadratic
    // (absolute mode) so both paths land in the oracle; every cursor
    // move bounds-checked by name (budget <= 3 s) ---
    QuerySpec("q287_bmp_rle_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticBmpRleMedia(
          t(s, d, "documents")), blockPx = 2)),
      // RLE8 replay: the parity CASE mirrors the fixture — run-friendly
      // (x//3) form on even ids, the q271 quadratic on odd
      (s"WITH $rasterPixelCtes, " +
        "xx AS (SELECT media_id, w, h, k, CASE WHEN media_id % 2 = 0 " +
        "THEN (k % w) // 3 ELSE k % w END AS gx FROM px), " +
        "g AS (SELECT media_id, w, h, (k % w) // 2 AS bx, (k // w) // 2 AS by, " +
        "(gx*gx*(7 + media_id % 29) + " +
        "(k // w)*(k // w)*(11 + media_id % 17) + " +
        "gx*(k // w)*(5 + media_id % 11) + media_id*23) % 251 AS gray " +
        "FROM xx), " +
        blockMeansSql)),
    // --- 16-bit + TILED TIFF decode [ext]: scanner masters carry
    // 16-bit samples (reduced to the planted HIGH byte over low-byte
    // noise — II stores it SECOND, MM first, so a byte-order bug reads
    // noise) and large-image TIFFs are TILED (tags 322-325, full-size
    // edge tiles whose zero padding the clip must drop) — one unified
    // segment walk decompresses strips and tiles through the same four
    // codecs (budget <= 3 s) ---
    QuerySpec("q288_tiff_deep_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticTiffDeepMedia(
          t(s, d, "documents")), blockPx = 2)),
      // deep/tiled-TIFF replay: q271's closed form verbatim — the engine
      // earns it through the 16-bit reductions and the tiled segment walk
      (s"WITH $rasterPixelCtes, " +
        s"$rasterGrayCte, " +
        blockMeansSql)),
    // --- G.711 u-law/A-law WAV decode [ext]: the telephony/VoIP codecs
    // (fmt tags 7 and 6) — 8-bit companded bytes expanding through the
    // published segment/mantissa closed forms (u-law: invert, mantissa
    // <<3 + 132, shift by segment, re-bias; A-law: XOR 0x55, segment 0
    // special case, MSB-set-positive — the INVERSE of u-law's sign).
    // Every code point 0..255 is exercised; the oracle replays both
    // expansions in integer SQL through q270's census shape
    // (budget <= 3 s) ---
    QuerySpec("q286_wav_g711_census", ((s, d) =>
      graft.multimodal.Multimodal.wavSampleStats(
        graft.multimodal.Multimodal.syntheticWavG711Media(
          t(s, d, "documents"))).toDF()),
      // G.711 replay: the published u-law/A-law segment expansions in
      // integer SQL over the planted code bytes (sample_rate 8000 — the
      // codecs' native rate)
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(200 + (doc_id * 7) % 200 AS BIGINT) AS n FROM documents), " +
        "s AS (SELECT media_id, n, unnest(range(n)) AS p FROM d), " +
        "cb AS (SELECT media_id, n, " +
        "CAST((media_id*29 + p*13) % 256 AS INTEGER) AS c FROM s), " +
        "ul AS (SELECT media_id, n, 255 - c AS u FROM cb " +
        "WHERE media_id % 2 = 0), " +
        s"$ulawCte, " +
        "al AS (SELECT media_id, n, xor(c, 85) AS a FROM cb " +
        "WHERE media_id % 2 = 1), " +
        "av AS (SELECT media_id, n, " +
        "CASE WHEN (a & 128) != 0 THEN 1 ELSE -1 END * " +
        "CASE WHEN ((a >> 4) & 7) = 0 THEN ((a & 15) << 4) + 8 " +
        "ELSE (((a & 15) << 4) + 264) << (((a >> 4) & 7) - 1) " +
        "END AS sv FROM al), " +
        "v AS (SELECT * FROM uv UNION ALL SELECT * FROM av) " +
        pcmCensusSql(8000))),
    // --- COMPOSITED APNG decode [ext]: the FOURTH animation container
    // (the PNG animation extension, now part of the W3C PNG spec) —
    // fcTL/fdAT frames are full PNG streams placed at offsets, blended
    // OVER (integer alpha compositing; alpha-0 pixels punch through) or
    // REPLACING, with dispose none/background(-to-transparent)/previous
    // — each frame decodes through the UNCHANGED still-PNG decoder via
    // a synthesized per-frame stream, then routes through decodeVideoRgb
    // so the whole frame-level video surface consumes real-crawl APNG
    // with zero operator changes. Census = per-frame quadrant sums
    // (position-sensitive); fixture = full base (dispose alternating by
    // parity), transparent-pierced OVER rect with dispose-previous,
    // opaque SOURCE rect; all alphas 0/255 so the algebra replays
    // pixel-by-pixel (budget <= 3 s) ---
    QuerySpec("q284_apng_composited_decode", ((s, d) =>
      graft.multimodal.Multimodal.videoFrameQuadrants(
        graft.multimodal.Multimodal.syntheticApngMedia(
          t(s, d, "documents"))).toDF()),
      // APNG replay: the q267 canvas algebra with APNG semantics — dispose
      // BACKGROUND clears to transparent (gray 0, not a palette color),
      // the pierced rect's dispose PREVIOUS removes it from frame 2, holes
      // show the base on even ids and transparent black on odd
      (s"WITH $canvasCtes, " +
        "v AS (SELECT media_id, f, x, y, " +
        "((media_id*23 + x*3 + y*5) % 64) * 4 + 1 AS v0, " +
        "CASE WHEN par = 0 THEN ((media_id*23 + x*3 + y*5) % 64) * 4 + 1 " +
        "ELSE 0 END AS base FROM c), " +
        "g AS (SELECT media_id, f, x, y, " +
        "CASE WHEN f = 0 THEN v0 " +
        "WHEN f = 1 AND x BETWEEN 4 AND 11 AND y BETWEEN 4 AND 11 " +
        "AND ((x-4) + (y-4)) % 3 <> 0 " +
        "THEN ((media_id*7 + (x-4)*5 + (y-4)*3) % 63) * 4 + 1 " +
        "WHEN f = 2 AND x >= 8 AND y < 8 " +
        "THEN ((media_id*11 + (x-8)*7 + y*9) % 64) * 4 + 1 " +
        "ELSE base END AS gray FROM v) " +
        quadrantSumsSql)),
    // --- GIF <-> APNG cross-container video dedup [ext]: the q276
    // contract extended to the fourth animation container — planted
    // pairs share no container bytes (LZW code streams vs zlib scanline
    // streams behind fcTL/fdAT) but composite to identical RGB, so
    // shared-frame dedup flags every pair at match_frac 1; the video
    // surface is now blind across AVI-DIB / MJPEG / GIF / animated WebP
    // / APNG (budget <= 3 s) ---
    QuerySpec("q285_gif_apng_video_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.videoNearDups(
        graft.multimodal.MediaDedup.syntheticGifApngPairVideos(
          t(s, d, "documents")), everyN = 2, maxHamming = 3, bands = 4,
        minSharedFrac = 0.5)),
      // GIF<->APNG replay: q276's SQL verbatim — same dims, frame counts,
      // and quadratic value family; only the odd member's CONTAINER
      // changed, which the oracle never sees
      animatedPairVideoSql),
    // --- COMPOSITED animated-WebP decode [ext]: the q267 canvas story in
    // WebP's vocabulary — ANMF frames are VP8L-coded rects placed at
    // offsets, BLENDED (alpha-blend; alpha-0 pixels punch through to the
    // canvas) or REPLACING (no-blend over the ANIM background), with a
    // dispose bit restoring the rect to background after presentation —
    // routed through decodeVideoRgb so the whole frame-level video
    // surface (dedup, containment, shots, quality) consumes real-crawl
    // animated WebP with zero operator changes. Census = per-frame
    // quadrant sums (position-sensitive); fixture alternates the base
    // frame's dispose bit by parity; all alphas 0/255 so the blend
    // formula is exact and the canvas algebra replays pixel-by-pixel
    // (budget <= 3 s) ---
    QuerySpec("q275_webp_anim_decode", ((s, d) =>
      graft.multimodal.Multimodal.videoFrameQuadrants(
        graft.multimodal.Multimodal.syntheticAnimatedWebpMedia(
          t(s, d, "documents"))).toDF()),
      // animated-WebP replay: the canvas algebra — base frame, dispose by
      // parity, the alpha-0 diagonal showing the base (or the restored
      // background) through the blended rect, the no-blend overlay winning
      // where rects overlap — per pixel, then quadrant sums per frame
      (s"WITH $canvasCtes, " +
        "v AS (SELECT media_id, f, x, y, " +
        "((media_id*29 + x*5 + y*7) % 64) * 4 + 2 AS v0, " +
        "CASE WHEN par = 0 THEN 8 " +
        "ELSE ((media_id*29 + x*5 + y*7) % 64) * 4 + 2 END AS base FROM c), " +
        "g AS (SELECT media_id, f, x, y, " +
        "CASE WHEN f = 0 THEN v0 " +
        "WHEN f = 2 AND x >= 8 AND y < 8 " +
        "THEN ((media_id*17 + (x-8)*9 + y*3) % 64) * 4 + 2 " +
        "WHEN x BETWEEN 4 AND 11 AND y BETWEEN 4 AND 11 " +
        "AND ((x-4) + (y-4)) % 3 <> 1 " +
        "THEN ((media_id*13 + (x-4)*3 + (y-4)*5) % 63) * 4 + 2 " +
        "ELSE base END AS gray FROM v) " +
        quadrantSumsSql)),
    // --- GIF <-> animated-WebP cross-container video dedup [ext]: the
    // q248 contract extended to the THIRD animation container — planted
    // pairs share no container bytes (LZW palette streams vs VP8L
    // prefix-code bitstreams inside ANMF chunks) but composite to
    // identical RGB, so shared-frame dedup flags every pair at
    // match_frac 1; with q248 and q262 the video surface is now blind
    // across AVI-DIB / MJPEG / GIF / animated WebP (budget <= 3 s) ---
    QuerySpec("q276_gif_webp_video_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.videoNearDups(
        graft.multimodal.MediaDedup.syntheticGifWebpPairVideos(
          t(s, d, "documents")), everyN = 2, maxHamming = 3, bands = 4,
        minSharedFrac = 0.5)),
      // GIF<->WebP video replay: ONE frame formula for both members,
      // the q248 dHash/containment arithmetic over this fixture's pair
      // grouping, dims, and coefficients
      animatedPairVideoSql),
    // --- EXIF-oriented WebP crop search [ext]: the q263 story for the
    // WebP container — camera-pipeline WebPs carry tag 274 in an EXIF
    // chunk, and a crop is taken from the DISPLAYED form; the still
    // dispatch now decodes WebP as displayed (identity when untagged —
    // every existing WebP row byte-identical), so crop search,
    // boilerplate, and block means meet camera WebPs on the viewer's
    // grid. Fixtures plant displayed content back through the INVERSE
    // transform across all 8 orientations (distinct coefficient family
    // from q263); the oracle replays DISPLAYED coordinates only —
    // reachable solely by applying the chunk's tag (budget <= 3 s) ---
    QuerySpec("q277_webp_oriented_crops", { (s, d) =>
      val docs = t(s, d, "documents")
      graft.multimodal.MediaDedup.imageCropMatches(
        graft.multimodal.MediaDedup.syntheticOrientedWebpCrops(docs),
        graft.multimodal.MediaDedup.syntheticOrientedWebpImages(docs),
        blockPx = 2)
    },
      // oriented-WebP-crop replay: the q263 arithmetic with this fixture's
      // coefficient family — the oracle works ENTIRELY in displayed
      // coordinates (the planted grid), never seeing the orientation or
      // the codec
      ("WITH dd AS (SELECT doc_id, 8 + doc_id % 3 AS gw, " +
        "8 + doc_id % 2 AS gh FROM documents), " +
        "bb AS (SELECT doc_id, gw, gh, unnest(range(gw * gh)) AS b FROM dd), " +
        "bm AS (SELECT doc_id, b % gw AS bx, b // gw AS by, " +
        "((b % gw)*(b % gw)*(7 + doc_id % 29) + " +
        "(b // gw)*(b // gw)*(9 + doc_id % 17) + " +
        "(b % gw)*(b // gw)*(5 + doc_id % 11) + doc_id*23) % 196 AS v " +
        "FROM bb), " +
        s"$patchPrintCtes, " +
        "cd AS (SELECT doc_id, doc_id % 4 AS crole, " +
        "doc_id % (8 + doc_id % 3 - 7) AS cox, " +
        "doc_id % (8 + doc_id % 2 - 7) AS coy " +
        "FROM documents WHERE doc_id % 2 = 0), " +
        "cbb AS (SELECT doc_id, crole, cox, coy, unnest(range(64)) AS b " +
        "FROM cd), " +
        "cbm AS (SELECT doc_id, b % 8 AS bx, b // 8 AS by, " +
        "CASE WHEN crole = 0 THEN " +
        "((cox + b % 8)*(cox + b % 8)*(7 + doc_id % 29) + " +
        "(coy + b // 8)*(coy + b // 8)*(9 + doc_id % 17) + " +
        "(cox + b % 8)*(coy + b // 8)*(5 + doc_id % 11) + doc_id*23) % 196 + 30 " +
        "ELSE ((b % 8)*(b % 8)*19 + (b // 8)*(b // 8)*23 + " +
        "(b % 8)*(b // 8)*29 + doc_id*7 + 55) % 196 END AS v FROM cbb), " +
        cropMatchSql)),
    // --- WAV PCM-depth matrix [ext]: 8-bit unsigned (old clips) and
    // 24-bit signed (production audio) PCM previously failed fast; both
    // now normalize to int16 by DOCUMENTED deterministic conversions
    // ((u-128)*256; top-16-bits arithmetic shift), so the whole audio
    // surface — contour dedup, quality, containment, descriptors — is
    // depth-blind. The 24-bit fixture plants low-byte noise the
    // conversion must drop; lossless replay through one formula
    // (budget <= 3 s) ---
    QuerySpec("q270_wav_depth_census", ((s, d) =>
      graft.multimodal.Multimodal.wavSampleStats(
        graft.multimodal.Multimodal.syntheticWavDepthMedia(
          t(s, d, "documents"))).toDF()),
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(200 + (doc_id * 7) % 200 AS BIGINT) AS n, " +
        "doc_id % 3 AS b FROM documents), " +
        "s AS (SELECT media_id, n, b, unnest(range(n)) AS p FROM d), " +
        "v AS (SELECT media_id, n, " +
        "CASE WHEN b = 0 THEN ((media_id*29 + p*13) % 256 - 128) * 256 " +
        "ELSE ((media_id*23 + p*7) % 4096) - 2048 END AS sv FROM s) " +
        pcmCensusSql(16000))),
    // --- PNG bit-DEPTH matrix decode [ext]: 1/2/4-bit palette and gray
    // PNGs (icons/logos) pack samples MSB-first into scanline bytes
    // (filter bpp = 1 per spec) with gray scaled by 255/(2^d - 1), and
    // 16-bit photo masters reduce to their high byte (the
    // spec-sanctioned 8-bit view; filter bpp = 2·channels) over planted
    // low-byte noise the reduction must drop — all previously failed
    // fast. Fixtures rotate depth x type x interlace x filter; one
    // closed form; position-sensitive block means (a bit-unpacking or
    // pass-scatter bug permutes pixels) (budget <= 3 s) ---
    QuerySpec("q269_png_depth_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticPngDepthMedia(
          t(s, d, "documents")), blockPx = 2)),
      // PNG-depth replay: the planted sample modulo 2^d, scaled by the
      // spec gray factor — identical for the palette ramp and gray types
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(16 + doc_id % 5 AS BIGINT) AS w, " +
        "CAST(16 + (doc_id * 3) % 5 AS BIGINT) AS h, " +
        "CAST(CASE (doc_id // 2) % 5 WHEN 0 THEN 1 WHEN 1 THEN 2 " +
        "WHEN 2 THEN 4 WHEN 3 THEN 8 ELSE 16 END AS BIGINT) AS dep " +
        "FROM documents), " +
        "px AS (SELECT media_id, w, h, dep, unnest(range(w * h)) AS k FROM d), " +
        "g AS (SELECT media_id, w, h, (k % w) // 2 AS bx, (k // w) // 2 AS by, " +
        "CASE WHEN dep = 16 " +
        "THEN (media_id*13 + (k % w)*3 + (k // w)*7) % 256 " +
        "ELSE ((media_id*13 + (k % w)*3 + (k // w)*7) % (1 << dep)) * " +
        "(255 // ((1 << dep) - 1)) END AS gray FROM px), " +
        blockMeansSql)),
    // --- PNG COLOR-TYPE matrix + ADAM7 decode [ext]: real-crawl PNGs
    // are mostly RGB (type 2) and palette (type 3), and some are
    // Adam7-interlaced — all previously failed fast into header-only
    // (the decoder was 8-bit RGBA-only). Now all five 8-bit color types
    // decode, per-pass-filtered Adam7 de-interlaces, palette PNGs apply
    // PLTE (+ optional tRNS alpha). Census = the position-sensitive
    // block-means table: a mis-scattered Adam7 pass permutes pixels and
    // hash-mismatches where sums are permutation-blind. PNG is LOSSLESS,
    // so every type replays one closed form exactly; ImageIO agreement
    // across the matrix is spec-pinned (budget <= 3 s) ---
    QuerySpec("q268_png_variant_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticPngVariantMedia(
          t(s, d, "documents")), blockPx = 2)),
      // PNG-variant replay: one planted gray formula across the color-type
      // matrix (palette types go through the identity-ramp lookup),
      // reduced to 2x2 block means
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(16 + doc_id % 5 AS BIGINT) AS w, " +
        "CAST(16 + (doc_id * 3) % 5 AS BIGINT) AS h, " +
        "doc_id % 5 AS ct FROM documents), " +
        "px AS (SELECT media_id, w, h, ct, unnest(range(w * h)) AS k FROM d), " +
        "g AS (SELECT media_id, w, h, (k % w) // 2 AS bx, (k // w) // 2 AS by, " +
        "CASE WHEN ct = 2 " +
        "THEN ((media_id*13 + (k % w)*3 + (k // w)*7) % 256 % 64) * 4 + 1 " +
        "ELSE (media_id*13 + (k % w)*3 + (k // w)*7) % 256 END AS gray " +
        "FROM px), " +
        blockMeansSql)),
    // --- COMPOSITED animated GIF decode [ext]: real-crawl animations
    // are PARTIAL-frame updates presented onto a persistent canvas with
    // per-frame disposal methods (keep / restore-to-background /
    // restore-to-previous) and transparency punching through to what is
    // already there — the last named GIF scope gap. The fixture plants a
    // full base, a transparent-pierced centered rect, and an overlapping
    // opaque rect, with the base's disposal alternating by parity; the
    // census is PER-FRAME QUADRANT sums (position-sensitive — a rect
    // placed wrong or a skipped disposal moves pixels between
    // quadrants). Oracle replays the canvas algebra pixel-by-pixel
    // (budget <= 3 s) ---
    QuerySpec("q267_gif_composited_decode", ((s, d) =>
      graft.multimodal.Multimodal.videoFrameQuadrants(
        graft.multimodal.Multimodal.syntheticCompositedGifMedia(
          t(s, d, "documents"))).toDF()),
      // composited-GIF replay: the canvas algebra — base frame, disposal
      // by parity, the transparent diagonal showing the base (or the
      // restored background) through, the opaque overlay winning where
      // rects overlap — per pixel, then quadrant sums per frame
      (s"WITH $canvasCtes, " +
        "v AS (SELECT media_id, f, x, y, " +
        "((media_id*23 + x*3 + y*5) % 64) * 4 + 1 AS v0, " +
        "CASE WHEN par = 0 THEN 1 " +
        "ELSE ((media_id*23 + x*3 + y*5) % 64) * 4 + 1 END AS base FROM c), " +
        "g AS (SELECT media_id, f, x, y, " +
        "CASE WHEN f = 0 THEN v0 " +
        "WHEN f = 2 AND x >= 8 AND y < 8 " +
        "THEN ((media_id*11 + (x-8)*7 + y*9) % 64) * 4 + 1 " +
        "WHEN x BETWEEN 4 AND 11 AND y BETWEEN 4 AND 11 " +
        "AND ((x-4) + (y-4)) % 3 <> 0 " +
        "THEN ((media_id*7 + (x-4)*5 + (y-4)*3) % 63) * 4 + 1 " +
        "ELSE base END AS gray FROM v) " +
        quadrantSumsSql)),
    // --- PROGRESSIVE (SOF2) JPEG decode [ext]: the second-most-common
    // web JPEG layout — coefficients accumulate across SEVERAL scans
    // (DC first/refinement, AC spectral bands with End-Of-Band runs,
    // successive-approximation refinements; DQT/DHT/DRI legal between
    // scans) with ONE dequant + IDCT at the end. Fixtures come from the
    // real spectral-selection encoder (multi-scan structure earned: a
    // DC scan plus per-component AC band scans); DC-only keeps the
    // closed form, and the census is quadrant sums (position-
    // sensitive). SA refinement paths pin against ImageIO-WRITTEN
    // progressive files in JpegSpec; general-coefficient progressive
    // must equal its baseline twin EXACTLY (same coefficients, same
    // IDCT — no tolerance) (budget <= 3 s) ---
    QuerySpec("q266_progressive_jpeg_decode", ((s, d) =>
      graft.multimodal.Multimodal.jpegQuadrantStats(
        graft.multimodal.Multimodal.syntheticProgressiveJpegMedia(
          t(s, d, "documents"))).toDF()),
      // progressive replay: the DC-only closed form again — the engine
      // earns it through the multi-scan walk instead of one baseline scan
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(16 * (1 + n_chars % 2) AS INTEGER) AS width, " +
        "CAST(16 AS INTEGER) AS height FROM documents), " +
        "b AS (SELECT media_id, width, height, " +
        "unnest(range((width // 8) * 2)) AS k FROM d), " +
        "g AS (SELECT media_id, width, height, " +
        "k % (width // 8) AS bx, k // (width // 8) AS by, " +
        "(media_id * 41 + k * (13 + media_id % 19)) % 256 AS gray FROM b) " +
        "SELECT media_id, width, height, " +
        "CAST(64 * sum(CASE WHEN bx < width // 16 AND by < 1 " +
        "THEN gray ELSE 0 END) AS BIGINT) AS q_tl, " +
        "CAST(64 * sum(CASE WHEN bx >= width // 16 AND by < 1 " +
        "THEN gray ELSE 0 END) AS BIGINT) AS q_tr, " +
        "CAST(64 * sum(CASE WHEN bx < width // 16 AND by >= 1 " +
        "THEN gray ELSE 0 END) AS BIGINT) AS q_bl, " +
        "CAST(64 * sum(CASE WHEN bx >= width // 16 AND by >= 1 " +
        "THEN gray ELSE 0 END) AS BIGINT) AS q_br " +
        "FROM g GROUP BY 1, 2, 3")),
    // --- corpus format-coverage HEALTH census [ext]: every decoder here
    // fails by NAME, and this row turns that contract into telemetry —
    // attempt the full decode per item, count (format, outcome, cause)
    // buckets — so each remaining scope restriction (arithmetic-coded
    // JPEG, sampling factors beyond 4, 12-bit JPEG, >8-channel audio,
    // non-MJPG AVI codecs, truncation, hostile magic) is MEASURED on a
    // corpus instead of silently reverting items to header-only. Each
    // attempt is the decoder the OPERATOR SURFACE consumes: GIF takes
    // the COMPOSITED animation decode, so the partial-frame case (10)
    // lands `decoded` — the census measures real blind spots, not the
    // stricter opt-in index-census contract. Fixture cycles thirty
    // real encoder outputs, nineteen decodable (incl. 4:2:0 / interlaced
    // GIF / stereo FLAC / MJPEG / partial-frame animation / VP8L WebP /
    // composited ANIMATED WebP / LOSSY VP8 WebP through the RFC 6386
    // keyframe decoder / ALPH-wrapped lossy with the alpha plane cycled
    // across raw/compressed x filters / float32 + G.711 + IMA-ADPCM +
    // MS-ADPCM WAV / Sun AU / AIFF / LZW+predictor TIFF / composited
    // APNG / BI_RLE8 BMP) and eleven
    // patched into named failures (the metadata-only MP4 / MP3 / Ogg
    // containers, whose REAL walks report the codec as evidence,
    // HEIC/AVIF stills surfaced as IMAGE buckets by ftyp brand, and
    // JPEG-in-TIFF); the aggregate is |formats x causes|-bounded, never
    // corpus-shaped (budget <= 3 s) ---
    QuerySpec("q265_decode_health", ((s, d) =>
      graft.multimodal.Multimodal.mediaDecodeHealth(
        graft.multimodal.Multimodal.syntheticHealthMedia(
          t(s, d, "documents")))),
      // health replay: the thirty planted cases map to fixed
      // (format, outcome, cause) buckets; the engine must EARN each row by
      // running the real parser into its named failure
      ("WITH c AS (SELECT CASE doc_id % 30 " +
        "WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'jpeg' " +
        "WHEN 3 THEN 'gif' WHEN 4 THEN 'flac' WHEN 5 THEN 'png' " +
        "WHEN 6 THEN 'jpeg' WHEN 7 THEN 'avi' WHEN 8 THEN 'unknown' " +
        "WHEN 10 THEN 'gif' WHEN 11 THEN 'webp' WHEN 12 THEN 'webp' " +
        "WHEN 13 THEN 'webp' WHEN 14 THEN 'mp4' WHEN 15 THEN 'mp3' " +
        "WHEN 16 THEN 'ogg' WHEN 17 THEN 'heic' WHEN 18 THEN 'avif' " +
        "WHEN 19 THEN 'webp' WHEN 20 THEN 'wav' WHEN 21 THEN 'wav' " +
        "WHEN 22 THEN 'tiff' WHEN 23 THEN 'png' WHEN 24 THEN 'bmp' " +
        "WHEN 25 THEN 'tiff' WHEN 26 THEN 'au' WHEN 27 THEN 'aiff' " +
        "WHEN 28 THEN 'wav' WHEN 29 THEN 'wav' " +
        "ELSE 'avi' END AS format, " +
        "CASE WHEN doc_id % 30 IN (0, 1, 3, 4, 7, 10, 11, 12, 13, 19, " +
        "20, 21, 22, 23, 24, 26, 27, 28, 29) " +
        "THEN 'decoded' ELSE 'skipped' END AS outcome, " +
        "CASE doc_id % 30 WHEN 2 THEN 'unsupported_coding' " +
        "WHEN 5 THEN 'truncated' WHEN 6 THEN 'unsupported_sampling' " +
        "WHEN 8 THEN 'unknown_magic' WHEN 9 THEN 'unsupported_codec' " +
        "WHEN 14 THEN 'unsupported_codec' WHEN 15 THEN 'unsupported_codec' " +
        "WHEN 16 THEN 'unsupported_codec' WHEN 17 THEN 'unsupported_codec' " +
        "WHEN 18 THEN 'unsupported_codec' WHEN 25 THEN 'unsupported_coding' " +
        "ELSE 'none' END AS cause FROM documents) " +
        "SELECT format, outcome, cause, " +
        "CAST(count(*) AS BIGINT) AS n_items FROM c GROUP BY 1, 2, 3")),
    // --- INTERLACED + LOCAL-COLOR-TABLE GIF decode [ext]: both layouts
    // appear in real crawls and previously failed fast; the LZW core is
    // unchanged — interlace is a four-pass row permutation undone after
    // expansion, and a frame's local table (with or without any global
    // one) becomes its effective palette. The census is the exploded
    // BLOCK-MEANS table (position-sensitive: a de-interlace bug permutes
    // rows and hash-mismatches, where whole-image sums are permutation-
    // blind — the q260 lesson applied to GIF); fixtures cycle plain /
    // interlaced / local / both, ImageIO agreement spec-pinned
    // (budget <= 3 s) ---
    QuerySpec("q264_gif_variant_blockmeans", ((s, d) =>
      graft.multimodal.MediaDedup.imageBlockMeans(
        graft.multimodal.Multimodal.syntheticGifVariantMedia(
          t(s, d, "documents")), blockPx = 2)),
      // GIF-variant replay: the planted position-dependent index formula
      // through the grayscale identity ramp, reduced to 2x2 block means —
      // identical arithmetic no matter which descriptor layout carried it
      (s"WITH $rasterPixelCtes, " +
        "g AS (SELECT media_id, w, h, (k % w) // 2 AS bx, (k // w) // 2 AS by, " +
        "((media_id*7 + (k % w)*3 + (k // w)*5) % 64 * 4 + 1) % 256 AS gray " +
        "FROM px), " +
        blockMeansSql)),
    // --- EXIF-ORIENTED crop search [ext]: a camera JPEG stores its
    // pixels rotated with tag 274 saying how to display them, and a crop
    // is taken from the DISPLAYED form (a screenshot of the photo) — so
    // position-sensitive operators that hash stored pixels structurally
    // miss the pair. The shared pixel walk now applies orientation
    // (identity for untagged payloads — every existing image row is
    // byte-identical), and this row plants rotated-source JPEGs across
    // all 8 orientations whose displayed-form crops must hit at
    // Hamming 0; the oracle replays the DISPLAYED grid directly, which
    // the engine can only reach by applying the tag (budget <= 3 s) ---
    QuerySpec("q263_oriented_crop_matches", { (s, d) =>
      val docs = t(s, d, "documents")
      graft.multimodal.MediaDedup.imageCropMatches(
        graft.multimodal.MediaDedup.syntheticOrientedCrops(docs),
        graft.multimodal.MediaDedup.syntheticOrientedCropImages(docs),
        blockPx = 8)
    },
      // oriented-crop replay: the oracle works ENTIRELY in displayed
      // coordinates (the planted grid), never seeing the orientation —
      // the q241 patch-hash arithmetic with this row's constants
      ("WITH dd AS (SELECT doc_id, 8 + doc_id % 3 AS gw, " +
        "8 + doc_id % 2 AS gh FROM documents), " +
        "bb AS (SELECT doc_id, gw, gh, unnest(range(gw * gh)) AS b FROM dd), " +
        "bm AS (SELECT doc_id, b % gw AS bx, b // gw AS by, " +
        "((b % gw)*(b % gw)*(11 + doc_id % 23) + " +
        "(b // gw)*(b // gw)*(5 + doc_id % 19) + " +
        "(b % gw)*(b // gw)*(3 + doc_id % 13) + doc_id*17) % 196 AS v " +
        "FROM bb), " +
        s"$patchPrintCtes, " +
        "cd AS (SELECT doc_id, doc_id % 4 AS crole, " +
        "doc_id % (8 + doc_id % 3 - 7) AS cox, " +
        "doc_id % (8 + doc_id % 2 - 7) AS coy " +
        "FROM documents WHERE doc_id % 2 = 0), " +
        "cbb AS (SELECT doc_id, crole, cox, coy, unnest(range(64)) AS b " +
        "FROM cd), " +
        "cbm AS (SELECT doc_id, b % 8 AS bx, b // 8 AS by, " +
        "CASE WHEN crole = 0 THEN " +
        "((cox + b % 8)*(cox + b % 8)*(11 + doc_id % 23) + " +
        "(coy + b // 8)*(coy + b // 8)*(5 + doc_id % 19) + " +
        "(cox + b % 8)*(coy + b // 8)*(3 + doc_id % 13) + doc_id*17) % 196 + 30 " +
        "ELSE ((b % 8)*(b % 8)*17 + (b // 8)*(b // 8)*21 + " +
        "(b % 8)*(b // 8)*27 + doc_id*5 + 77) % 196 END AS v FROM cbb), " +
        cropMatchSql)),
    // --- MJPEG (compressed) video decode [ext]: AVI's dominant codec —
    // one baseline JPEG per '00dc' chunk — joins the format-blind video
    // surface by COMPOSING the q252 JPEG decoder into the container
    // walk, so shared-frame dedup, containment, quality, and shot
    // detection all see compressed video. Fixture pairs an uncompressed
    // DIB AVI with an MJPEG re-encode of the SAME DC-only content
    // (lossless by the closed form): the pair must collide
    // frame-for-frame at match_frac 1, earned through real per-frame
    // Huffman + IDCT inside the movi walk (budget <= 3 s) ---
    QuerySpec("q262_mjpeg_video_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.videoNearDups(
        graft.multimodal.MediaDedup.syntheticMjpegPairVideos(
          t(s, d, "documents")), everyN = 2, maxHamming = 3, bands = 4,
        minSharedFrac = 0.5)),
      // MJPEG replay: block-constant frames mean grid cell (bx, by) of the
      // 64x64 dHash IS the planted block value; both codecs of a pair
      // decode to identical pixels (DC-only JPEG is exact), so the pair
      // arithmetic is one fingerprint table regardless of codec
      ("WITH dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        "dm AS (SELECT doc_id, g, CAST(2 + g % 2 AS BIGINT) AS nf FROM dd), " +
        "sf AS (SELECT doc_id, g, unnest(range(nf)) AS f FROM dm), " +
        "sf2 AS (SELECT * FROM sf WHERE f % 2 = 0), " +
        "b AS (SELECT doc_id, g, f, unnest(range(64)) AS k FROM sf2), " +
        "m AS (SELECT doc_id, f, k % 8 AS bx, k // 8 AS by, " +
        "(g*37 + f*(11 + (g*17) % 97) + (k % 8)*(k % 8)*(4 + (g % 11)*5) + " +
        "(k // 8)*(k // 8)*(3 + (g % 13)*3) + " +
        "(k % 8)*(k // 8)*(2 + (g % 7)*9)) % 256 AS mean FROM b), " +
        s"${frameDhashCtes("sf2")}, " +
        s"${frameMatchCtes("b")} " +
        videoPairSql)),
    // --- STEREO + LPC FLAC decode [ext]: the profile real-world FLAC
    // actually ships — all three stereo channel assignments (mid/side,
    // left/side, independent; the side subframe carries its spec'd 17th
    // bit) and GENERAL LPC subframes (quantized integer coefficients,
    // arithmetic-shift prediction) on every 4th doc, CONSTANT stereo
    // clips on every 7th. Lossless, so the planted interleaved L/R
    // formulas replay arithmetically no matter which decorrelation
    // carried the bits; census through the SAME format-blind sample path
    // WAV and mono FLAC use (budget <= 3 s) ---
    QuerySpec("q261_flac_stereo_lpc", ((s, d) =>
      graft.multimodal.Multimodal.wavSampleStats(
        graft.multimodal.Multimodal.syntheticFlacStereoMedia(
          t(s, d, "documents"))).toDF()),
      // stereo-FLAC replay: the interleaved L/R closed forms — lossless
      // decode means the oracle recomputes the census from the planted
      // per-channel formulas without knowing the channel assignment
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(CASE WHEN doc_id % 7 = 0 THEN 240 " +
        "ELSE 200 + (n_chars * 5) % 250 END AS BIGINT) AS n " +
        "FROM documents), " +
        "s AS (SELECT media_id, n, unnest(range(n)) AS p FROM d), " +
        "v AS (SELECT media_id, n, " +
        "CASE WHEN media_id % 7 = 0 THEN ((media_id * 29) % 4096) - 2048 " +
        "ELSE ((media_id * 29 + p * 11) % 4096) - 2048 END AS lv, " +
        "CASE WHEN media_id % 7 = 0 THEN ((media_id * 19) % 4096) - 2048 " +
        "ELSE ((media_id * 19 + p * 13) % 4096) - 2048 END AS rv FROM s) " +
        "SELECT media_id, CAST(2 AS INTEGER) AS channels, " +
        "CAST(16000 AS INTEGER) AS sample_rate, " +
        "CAST(2 * n AS BIGINT) AS n_samples, " +
        "CAST(sum(abs(lv) + abs(rv)) AS BIGINT) AS sum_abs, " +
        "CAST(max(greatest(abs(lv), abs(rv))) AS BIGINT) AS peak " +
        "FROM v GROUP BY media_id, n")),
    // --- CHROMA-SUBSAMPLED (4:2:0) baseline JPEG decode [ext]: real
    // web-crawl JPEGs are overwhelmingly 4:2:0 and previously failed
    // fast into header-only; the MCU walk now interleaves 2x2 luma
    // blocks + one block per chroma plane (T.81 A.2.3) and upsamples by
    // sample replication. DC-only fixtures (chroma planted at 128 —
    // exact under ANY upsampler) decode to closed-form block constants,
    // and the census is QUADRANT sums — position-sensitive, so a block
    // landing at the wrong plane position hash-mismatches, which the
    // q252 channel sums structurally cannot see. General coefficients +
    // nonzero chroma are pinned against JDK ImageIO in JpegSpec
    // (budget <= 3 s) ---
    QuerySpec("q260_jpeg420_decode", ((s, d) =>
      graft.multimodal.Multimodal.jpegQuadrantStats(
        graft.multimodal.Multimodal.syntheticJpeg420Media(
          t(s, d, "documents"))).toDF()),
      // 4:2:0 decode replay: the DC-only closed form — luma block k of doc
      // id decodes to the CONSTANT gray (id*37 + k*(11 + id%17)) mod 256,
      // 64 pixels per block, grouped into quadrants (dims are multiples of
      // 16, so blocks never straddle a quadrant boundary) — which the
      // engine must earn through the interleaved 2x2-luma MCU walk
      ("WITH d AS (SELECT doc_id AS media_id, " +
        "CAST(16 * (1 + n_chars % 3) AS INTEGER) AS width, " +
        "CAST(16 * (1 + (n_chars * 7) % 2) AS INTEGER) AS height " +
        "FROM documents), " +
        "b AS (SELECT media_id, width, height, " +
        "unnest(range((width // 8) * (height // 8))) AS k FROM d), " +
        "g AS (SELECT media_id, width, height, " +
        "k % (width // 8) AS bx, k // (width // 8) AS by, " +
        "(media_id * 37 + k * (11 + media_id % 17)) % 256 AS gray FROM b) " +
        jpegQuadrantSql)),
    // --- EXIF orientation: parse + APPLY [ext]: camera JPEGs store
    // pixels rotated with a tag 274 saying how to display them; the
    // engine walks the real APP1/TIFF structure (both byte orders),
    // applies the published source-coordinate table to the decoded
    // pixels, and reports DISPLAYED-quadrant gray sums — quadrants (not
    // plain channel sums, which are transform-invariant) make a broken
    // orientation path hash-mismatch. Fixtures carry real Exif segments
    // over 64x48 DC-only grids covering all 8 orientations incl. the
    // four dimension-swapping ones (budget <= 3 s) ---
    QuerySpec("q259_exif_oriented_quadrants", ((s, d) =>
      graft.multimodal.Multimodal.jpegOrientedQuadrants(
        graft.multimodal.Multimodal.syntheticExifJpegMedia(
          t(s, d, "documents"))).toDF()),
      // EXIF quadrant replay: displayed cell (dx, dy) sources stored cell
      // per the published tag-274 table (stored grid 8x6; dims swap for
      // orientations 5-8), 64 pixels per cell, quadrant sums
      ("WITH d AS (SELECT doc_id, 1 + doc_id % 8 AS o FROM documents), " +
        "dim AS (SELECT doc_id, o, " +
        "CASE WHEN o >= 5 THEN 6 ELSE 8 END AS gwp, " +
        "CASE WHEN o >= 5 THEN 8 ELSE 6 END AS ghp FROM d), " +
        "cells AS (SELECT doc_id, o, gwp, ghp, " +
        "unnest(range(gwp * ghp)) AS c FROM dim), " +
        "pos AS (SELECT doc_id, o, gwp, ghp, c % gwp AS dx, c // gwp AS dy " +
        "FROM cells), " +
        "src AS (SELECT doc_id, o, gwp, ghp, dx, dy, " +
        "CASE o WHEN 1 THEN dx WHEN 2 THEN 7 - dx WHEN 3 THEN 7 - dx " +
        "WHEN 4 THEN dx WHEN 5 THEN dy WHEN 6 THEN dy " +
        "WHEN 7 THEN 7 - dy ELSE 7 - dy END AS sbx, " +
        "CASE o WHEN 1 THEN dy WHEN 2 THEN dy WHEN 3 THEN 5 - dy " +
        "WHEN 4 THEN 5 - dy WHEN 5 THEN dx WHEN 6 THEN 5 - dx " +
        "WHEN 7 THEN 5 - dx ELSE dx END AS sby FROM pos), " +
        "v AS (SELECT doc_id, o, gwp, ghp, dx, dy, " +
        "(doc_id*41 + sbx*sbx*(5 + doc_id % 13) + sby*sby*(3 + doc_id % 11) + " +
        "sbx*sby*(7 + doc_id % 5)) % 256 AS g FROM src) " +
        "SELECT doc_id AS media_id, CAST(gwp * 8 AS INTEGER) AS width, " +
        "CAST(ghp * 8 AS INTEGER) AS height, CAST(o AS INTEGER) AS orientation, " +
        "CAST(64 * sum(CASE WHEN dx < gwp // 2 AND dy < ghp // 2 " +
        "THEN g ELSE 0 END) AS BIGINT) AS q_tl, " +
        "CAST(64 * sum(CASE WHEN dx >= gwp // 2 AND dy < ghp // 2 " +
        "THEN g ELSE 0 END) AS BIGINT) AS q_tr, " +
        "CAST(64 * sum(CASE WHEN dx < gwp // 2 AND dy >= ghp // 2 " +
        "THEN g ELSE 0 END) AS BIGINT) AS q_bl, " +
        "CAST(64 * sum(CASE WHEN dx >= gwp // 2 AND dy >= ghp // 2 " +
        "THEN g ELSE 0 END) AS BIGINT) AS q_br " +
        "FROM v GROUP BY 1, 2, 3, 4")),
    // --- ORIENTATION-invariant perceptual dedup [ext]: an EXIF-rotated,
    // flipped, or mirrored re-post — constant in real crawls, invisible
    // to the plain dHash — maps its mean grid to another element of the
    // same dihedral orbit, so hashing the MINIMUM over all 8 transforms
    // (still one 64-bit fingerprint, same banding) makes the copy collide
    // at Hamming 0. Planted pairs cover every non-identity orientation;
    // exact for multiple-of-8 dims (uniform blocks commute with the
    // transforms — documented bound) (budget <= 3 s) ---
    QuerySpec("q258_orientation_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.imageNearDupsOrientationInvariant(
        graft.multimodal.MediaDedup.syntheticRotatedImages(
          t(s, d, "documents")), maxHamming = 3, bands = 4)
        .select(col("media_a"), col("media_b"),
          col("hamming").cast("int").as("hamming"))),
      // orientation-canonical replay: the planted grid (odd docs pass
      // through their planted dihedral transform via the SAME mapping
      // table), then min-over-8-transforms dHash per doc, brute pairs.
      // tmap MUST stay in lockstep with MediaDedup.dihedralSource
      ("WITH tmap AS (SELECT t, c % 8 AS x, c // 8 AS y, " +
        "CASE t WHEN 0 THEN c % 8 WHEN 1 THEN c // 8 WHEN 2 THEN 7 - c % 8 " +
        "WHEN 3 THEN 7 - c // 8 WHEN 4 THEN 7 - c % 8 WHEN 5 THEN c % 8 " +
        "WHEN 6 THEN c // 8 ELSE 7 - c // 8 END AS sx, " +
        "CASE t WHEN 0 THEN c // 8 WHEN 1 THEN 7 - c % 8 WHEN 2 THEN 7 - c // 8 " +
        "WHEN 3 THEN c % 8 WHEN 4 THEN c // 8 WHEN 5 THEN 7 - c // 8 " +
        "WHEN 6 THEN c % 8 ELSE 7 - c % 8 END AS sy " +
        "FROM (SELECT unnest(range(8)) AS t), (SELECT unnest(range(64)) AS c)), " +
        "dd AS (SELECT doc_id, doc_id // 2 AS g, " +
        "CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 + (doc_id // 2) % 7 END AS pt " +
        "FROM documents), " +
        "pos AS (SELECT doc_id, g, pt, unnest(range(64)) AS c FROM dd), " +
        "m AS (SELECT p.doc_id, tm.x, tm.y, " +
        "(p.g*37 + tm.sx*tm.sx*(4 + (p.g % 11) * 5) + " +
        "tm.sy*tm.sy*(3 + (p.g % 13) * 3) + " +
        "tm.sx*tm.sy*(2 + (p.g % 7) * 9)) % 256 AS v " +
        "FROM pos p JOIN tmap tm ON tm.t = p.pt AND tm.x = p.c % 8 " +
        "AND tm.y = p.c // 8), " +
        "tv AS (SELECT m2.doc_id, tm.t, tm.x, tm.y, m2.v " +
        "FROM tmap tm JOIN m m2 ON m2.x = tm.sx AND m2.y = tm.sy), " +
        "bits AS (SELECT l.doc_id, l.t, l.y * 7 + l.x AS j FROM tv l " +
        "JOIN tv r ON r.doc_id = l.doc_id AND r.t = l.t AND r.y = l.y " +
        "AND r.x = l.x + 1 WHERE l.v < r.v), " +
        "h AS (SELECT d.doc_id, d.t, coalesce(sum(CAST(1 AS BIGINT) << " +
        "CAST(j AS INTEGER)), 0) AS hv " +
        "FROM (SELECT DISTINCT doc_id, t FROM tv) d " +
        "LEFT JOIN bits ON bits.doc_id = d.doc_id AND bits.t = d.t " +
        "GROUP BY 1, 2), " +
        "ch AS (SELECT doc_id, min(hv) AS chash FROM h GROUP BY 1) " +
        "SELECT x.doc_id AS media_a, y.doc_id AS media_b, " +
        "CAST(bit_count(xor(x.chash, y.chash)) AS INTEGER) AS hamming " +
        "FROM ch x JOIN ch y ON x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.chash, y.chash)) <= 3")),
    // --- TOLERANT image boilerplate [ext]: a real alpha-blended
    // watermark shifts each stamped image's block means by a few units
    // with the underlying content, so the q249 VERBATIM census
    // structurally misses it; quantizing means to floor(mean/4) buckets
    // before the census concentrates every blended stamp in one bucket
    // per position. Fixture plants the bleed explicitly; the oracle
    // replays blend + quantization arithmetically; MediaDedupSpec pins
    // that verbatim misses what this catches (budget <= 3 s) ---
    QuerySpec("q256_image_boilerplate_tolerant", ((s, d) =>
      graft.multimodal.MediaDedup.imageBoilerplateBlocks(
        graft.multimodal.MediaDedup.syntheticBlendedWatermarkImages(
          t(s, d, "documents")), minImages = 50L, quant = 4)),
      // tolerant watermark replay: the blended-stamp formula (logo + per-
      // image bleed) and the content quadratic, quantized to mean // 4
      // buckets before the distinct-image census
      ("WITH d AS (SELECT doc_id FROM documents), " +
        "bb AS (SELECT doc_id, unnest(range(120)) AS b FROM d), " +
        "bm AS (SELECT doc_id, b % 12 AS bx, b // 12 AS by, " +
        "CASE WHEN doc_id % 3 = 0 AND b % 12 < 4 AND b // 12 < 2 " +
        "THEN (b % 12) * 48 + (b // 12) * 32 + 8 + (doc_id // 3) % 3 " +
        "ELSE ((b % 12)*(b % 12)*(13 + doc_id % 31) + " +
        "(b // 12)*(b // 12)*(7 + doc_id % 29) + " +
        "(b % 12)*(b // 12)*(3 + doc_id % 17) + doc_id*11) % 226 END AS mean " +
        "FROM bb) " +
        "SELECT CAST(bx AS INTEGER) AS bx, CAST(by AS INTEGER) AS by, " +
        "CAST(mean // 4 AS BIGINT) AS mean, " +
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_images " +
        "FROM bm GROUP BY 1, 2, 3 HAVING count(DISTINCT doc_id) >= 50")),
    // --- CROSS-CONTAINER video dedup [ext]: real ANIMATED GIF decode
    // (per-frame LZW streams under the restricted full-frame/global-
    // palette profile; partial-frame compositing fails fast by design)
    // makes the whole frame-level video surface FORMAT-BLIND — an AVI and
    // an animated-GIF re-encode of the same frames share no container
    // bytes but decode to identical RGB, so shared-frame containment
    // flags every planted pair at match_frac 1 (the video-level q224).
    // Oracle replays ONE frame-hash formula for both members and
    // brute-forces pairs + containment (budget <= 3 s) ---
    QuerySpec("q248_crosscontainer_video_neardups", ((s, d) =>
      graft.multimodal.MediaDedup.videoNearDups(
        graft.multimodal.MediaDedup.syntheticCrossContainerVideos(
          t(s, d, "documents")), everyN = 2, maxHamming = 3, bands = 4,
        minSharedFrac = 0.5)),
      // cross-container video replay: ONE planted frame formula covers both
      // the AVI and the animated-GIF member (identity gray palette), q231's
      // hash + containment arithmetic over doc_id/2 pairs
      ("WITH dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        "dm AS (SELECT doc_id, g, " +
        "CAST(12 + (g % 5) * 4 AS BIGINT) AS w, " +
        "CAST(8 + ((g * 3) % 4) * 4 AS BIGINT) AS h, " +
        "CAST(3 + g % 3 AS BIGINT) AS nf FROM dd), " +
        "sf AS (SELECT doc_id, g, w, h, unnest(range(nf)) AS f FROM dm), " +
        "sf2 AS (SELECT * FROM sf WHERE f % 2 = 0), " +
        "px AS (SELECT doc_id, g, w, h, f, " +
        "unnest(range(w * h)) AS k FROM sf2), " +
        "v AS (SELECT doc_id, f, " +
        "(g*29 + f*17 + (k % w)*(3 + (g * 13) % 251) + " +
        "(k // w)*(2 + (g * 7) % 241)) % 256 AS val, " +
        "((k % w) * 8) // w AS bx, ((k // w) * 8) // h AS by FROM px), " +
        s"$frameMeansCte, ${frameDhashCtes("sf2")}, " +
        s"${frameMatchCtes("b")} " +
        videoPairSql)),
    // --- MULTIMODAL curation artifact [ext]: the capstone composition —
    // an item survives iff it is the min-id canonical of the JOINT
    // text ∪ image ∪ audio near-dup graph (q238) AND passes the text
    // gate (n_chars >= 100) AND the image exposure gate (<= 1/16 dark
    // pixels, q242 arithmetic on the cross-format images). Survivors land
    // through a CHECK-constrained governed write (both gates observed in
    // the write pass) and read back. Every stage individually
    // oracle-checked (q238, q242, q161); this row proves the joint chain
    // (budget <= 5 s — it contains the full q238 closure) ---
    QuerySpec("q247_multimodal_curation_artifact", { (s, d) =>
      val docs = t(s, d, "documents").filter(col("doc_id") < 1998)
      val images = Caching.materialize(graft.multimodal.MediaDedup
        .syntheticCrossFormatImages(docs))
      val canon = graft.multimodal.MediaDedup.multimodalClusters(docs,
          images, graft.multimodal.MediaDedup.syntheticNearDupAudio(docs))
        .filter(col("item_id") === col("cluster_id")).select("item_id")
      val survivors = docs.select(col("doc_id").as("item_id"), col("n_chars"))
        .join(canon, Seq("item_id"))
        .join(graft.multimodal.MediaDedup.imageQualityStats(images)
          .withColumnRenamed("media_id", "item_id"), Seq("item_id"))
        .filter(col("n_chars") >= 100 && col("n_dark") * 16 <= col("n_px"))
        .select("item_id", "n_chars", "n_px", "n_dark")
      val lake = graft.tables.TempLakes.lake(s, "graft_mm_curation_lake")
      lake.write(survivors, "curated_items", constraints = Seq(
        ("text_len", "n_chars >= 100"),
        ("dark_frac_bound", "n_dark * 16 <= n_px")))
      lake.read("curated_items")
        .select(col("item_id"), col("n_chars"), col("n_px"), col("n_dark"))
    },
      // multimodal curation replay: the q238 union closure for canonicals +
      // the image quality aggregate straight off the shared per-pixel CTE +
      // the documents text gate
      (s"WITH RECURSIVE $multimodalPairCtes, " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM tp " +
        "UNION SELECT doc_a, doc_b FROM ip " +
        "UNION SELECT doc_a, doc_b FROM ap), " +
        s"$edgeComponentCtes, " +
        "canon AS (SELECT dd.doc_id AS item_id FROM dd " +
        "LEFT JOIN compmap ON dd.doc_id = compmap.n " +
        "WHERE least(dd.doc_id, coalesce(mn, dd.doc_id)) = dd.doc_id), " +
        "iq AS (SELECT doc_id AS item_id, CAST(count(*) AS BIGINT) AS n_px, " +
        "CAST(sum(CASE WHEN val < 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark " +
        "FROM v GROUP BY 1), " +
        s"dl AS (SELECT doc_id AS item_id, n_chars FROM $multimodalSrc) " +
        "SELECT canon.item_id, n_chars, n_px, n_dark " +
        "FROM canon JOIN dl ON canon.item_id = dl.item_id " +
        "JOIN iq ON canon.item_id = iq.item_id " +
        "WHERE n_chars >= 100 AND n_dark * 16 <= n_px")),
    // --- video quality gates [ext]: black-frame and flat-frame
    // detection over DECODED frames — exact integers (gray sum < 16*px
    // = black; zero variance numerator = flat; a textured near-black
    // frame counts black but NOT flat, planted as such). Oracle replays
    // the per-frame per-pixel formula arithmetically (budget <= 3 s) ---
    QuerySpec("q245_video_quality", ((s, d) =>
      graft.multimodal.MediaDedup.videoQualityStats(
        graft.multimodal.MediaDedup.syntheticQualityVideos(
          t(s, d, "documents")))),
      ("WITH d AS (SELECT doc_id, " +
        "CAST(8 + doc_id % 3 * 2 AS BIGINT) AS w, " +
        "CAST(8 + doc_id % 2 * 2 AS BIGINT) AS h, " +
        "CAST(3 + doc_id % 3 AS BIGINT) AS nf FROM documents), " +
        "fr AS (SELECT doc_id, w, h, unnest(range(nf)) AS f FROM d), " +
        "px AS (SELECT doc_id, w, h, f, unnest(range(w * h)) AS k FROM fr), " +
        "g AS (SELECT doc_id, w, h, f, " +
        "CASE WHEN f % 3 = 0 THEN (doc_id*13 + f*7 + (k % w)*5 + (k // w)*3) % 256 " +
        "WHEN f % 3 = 1 THEN (doc_id*3 + f) % 200 + 20 " +
        "ELSE ((k % w) + (k // w)) % 8 END AS gray FROM px), " +
        "fs AS (SELECT doc_id, f, w * h AS npx, sum(gray) AS s, " +
        "sum(gray * gray) AS s2 FROM g GROUP BY doc_id, f, w, h) " +
        "SELECT doc_id AS media_id, " +
        "CAST(count(*) AS BIGINT) AS n_frames_scanned, " +
        "CAST(sum(CASE WHEN s < 16 * npx THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_black_frames, " +
        "CAST(sum(CASE WHEN npx * s2 - s * s = 0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_flat_frames, " +
        "CAST(sum(s) AS BIGINT) AS sum_gray " +
        "FROM fs GROUP BY 1")),
    // --- audio quality gates [ext]: clipping (full-scale samples),
    // planted-silence windows (zero-energy absolute windows, trailing
    // partial dropped), exact abs-sum and peak. The planted clipped
    // sample inside a silent window keeps that window non-silent on both
    // engines — the interaction is contract, not noise (budget <= 3 s) ---
    QuerySpec("q246_audio_quality", ((s, d) =>
      graft.multimodal.MediaDedup.audioQualityStats(
        graft.multimodal.MediaDedup.syntheticQualityClips(
          t(s, d, "documents")))),
      // audio quality replay: per-sample CASE (clip / planted silence /
      // sweep), window energies over full windows only
      ("WITH d AS (SELECT doc_id, " +
        "CAST(300 + doc_id % 20 * 10 AS BIGINT) AS n FROM documents), " +
        "sp AS (SELECT doc_id, n, unnest(range(n)) AS p FROM d), " +
        "v AS (SELECT doc_id, n, p, " +
        "CASE WHEN p % 97 = 0 THEN 32767 " +
        "WHEN (p // 10) % 5 = 4 THEN 0 " +
        "ELSE ((doc_id*7 + p*11) % 4096) - 2048 END AS s FROM sp), " +
        "agg AS (SELECT doc_id, max(n) AS n_samples, sum(abs(s)) AS sum_abs, " +
        "max(abs(s)) AS peak_abs, " +
        "sum(CASE WHEN s = 32767 OR s = -32768 THEN 1 ELSE 0 END) AS n_clipped " +
        "FROM v GROUP BY 1), " +
        "en AS (SELECT doc_id, p // 10 AS w, sum(abs(s)) AS e FROM v " +
        "WHERE p < (n // 10) * 10 GROUP BY 1, 2), " +
        "sil AS (SELECT doc_id, count(*) AS n_windows, " +
        "sum(CASE WHEN e = 0 THEN 1 ELSE 0 END) AS n_silent FROM en GROUP BY 1) " +
        "SELECT agg.doc_id AS media_id, " +
        "CAST(n_samples AS BIGINT) AS n_samples, " +
        "CAST(sum_abs AS BIGINT) AS sum_abs, " +
        "CAST(peak_abs AS BIGINT) AS peak_abs, " +
        "CAST(n_clipped AS BIGINT) AS n_clipped, " +
        "CAST(n_windows AS BIGINT) AS n_windows, " +
        "CAST(n_silent AS BIGINT) AS n_silent_windows " +
        "FROM agg JOIN sil ON agg.doc_id = sil.doc_id")),
    // --- streaming AUDIO ingest with contour dedup [ext]: completes the
    // streaming matrix (text q196, image q229, video q236, audio q244) —
    // the whole-clip energy-contour fingerprint rides the SAME generalized
    // batch body as the image ingest (in-batch Hamming components, min-id
    // keep, banded cross-check against the committed lake), so a
    // volume-scaled copy of a committed clip arriving in a later batch is
    // rejected and replays are idempotent. Oracle = the q229 recursive
    // template over the q220 afp replay (budget <= 3 s) ---
    QuerySpec("q244_audio_ingest_twin", { (s, d) =>
      val media = Caching.materialize(graft.multimodal.MediaDedup
        .syntheticNearDupAudio(t(s, d, "documents")).toDF())
      graft.stream.MediaIngest.audioIngestTwin(s,
        media.filter(col("media_id") % 2 === 0),
        media.filter(col("media_id") % 2 === 1))
    },
      // audio ingest replay: the q229 recursive template (same-parity
      // in-batch closures, batch-1 canonicals admit, batch-2 canonicals
      // drop on any Hamming-<=3 hit against an admitted batch-1 clip) over
      // the q220 energy-contour fingerprint arithmetic
      ("WITH RECURSIVE dd AS (SELECT doc_id, doc_id // 3 AS g, " +
        "doc_id % 3 AS role FROM documents), " +
        s"${audioEnergyCtes("s")}, " +
        s"${audioPrintCtes("fp AS MATERIALIZED")}, " +
        "edges AS (SELECT x.doc_id AS a, y.doc_id AS b FROM fp x " +
        "JOIN fp y ON x.doc_id < y.doc_id AND x.doc_id % 2 = y.doc_id % 2 " +
        "WHERE bit_count(xor(x.afp, y.afp)) <= 3), " +
        s"$edgeComponentCtes, " +
        s"${admitCtes("afp")} " +
        "SELECT adm.doc_id AS media_id, CAST(fp.afp AS BIGINT) AS dhash " +
        "FROM adm JOIN fp ON adm.doc_id = fp.doc_id")),
    // --- media curation artifact [ext]: the media twin of q223's
    // composition endgame — perceptual dedup (cross-format clusters,
    // min-id canonical keep) -> exposure quality gate (<= 1/16 dark
    // pixels, exact integer arithmetic) -> CHECK-constrained governed
    // lake write (the gate AND a not-flat constraint observed in the
    // write pass) -> read-back. Every stage is individually
    // oracle-checked (q225, q242, q161); this row proves the chain.
    // Fixture persists (every stage re-reads payloads) ---
    QuerySpec("q243_media_curation_artifact", { (s, d) =>
      val media = Caching.materialize(graft.multimodal.MediaDedup
        .syntheticCrossFormatImages(t(s, d, "documents")))
      val canon = graft.multimodal.MediaDedup.imageClusters(media)
        .filter(col("media_id") === col("cluster_id")).select("media_id")
      val survivors = graft.multimodal.MediaDedup.imageQualityStats(media)
        .join(canon, Seq("media_id"))
        .filter(col("n_dark") * 16 <= col("n_px"))
      val lake = graft.tables.TempLakes.lake(s, "graft_media_curation_lake")
      lake.write(survivors, "curated_media", constraints = Seq(
        ("dark_frac_bound", "n_dark * 16 <= n_px"),
        ("not_flat", "var_num > 0")))
      lake.read("curated_media").select(col("media_id"), col("n_px"),
        col("sum_gray"), col("var_num"), col("n_dark"), col("n_bright"))
    },
      // media curation artifact replay: the q225 hash/closure arithmetic
      // for canonical keepers + the per-pixel quality sums from the same
      // planted formula, gated at <= 1/16 dark
      ("WITH RECURSIVE dd AS (SELECT doc_id, doc_id // 2 AS g FROM documents), " +
        s"${stillImageCtes("v", "doc_id, w, h")}, " +
        s"${stillDhashCtes("fp AS MATERIALIZED")}, " +
        "edges AS (SELECT x.doc_id AS a, y.doc_id AS b FROM fp x " +
        "JOIN fp y ON x.doc_id < y.doc_id " +
        "WHERE bit_count(xor(x.dhash, y.dhash)) <= 3), " +
        s"$edgeComponentCtes, " +
        "canon AS (SELECT fp.doc_id AS media_id FROM fp " +
        "LEFT JOIN compmap ON fp.doc_id = compmap.n " +
        "WHERE least(fp.doc_id, coalesce(mn, fp.doc_id)) = fp.doc_id), " +
        "qs AS (SELECT doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_px, " +
        "CAST(sum(val) AS BIGINT) AS sum_gray, " +
        "CAST(count(*) * sum(val * val) - sum(val) * sum(val) AS BIGINT) AS var_num, " +
        "CAST(sum(CASE WHEN val < 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark, " +
        "CAST(sum(CASE WHEN val > 239 THEN 1 ELSE 0 END) AS BIGINT) AS n_bright " +
        "FROM v GROUP BY 1) " +
        "SELECT qs.media_id, n_px, sum_gray, var_num, n_dark, n_bright " +
        "FROM qs JOIN canon ON qs.media_id = canon.media_id " +
        "WHERE n_dark * 16 <= n_px")))
}
