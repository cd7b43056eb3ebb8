package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

package object operators {

  /** Upper bound for hint-broadcasting a side table whose size a call
    * site estimates from an exact row count (~48 bytes of row overhead
    * plus the row's payload): 256 MB. Small against executor and driver
    * memory, far above the 10 MB planner default, which cannot size a
    * persisted (stats-blind) artifact or a per-round table whose plan
    * is exchange-free and so never runtime-corrected. Each call site
    * keeps its estimate and its measurement:
    *  - the graph loop's per-round |V|-row rank/label table — crossing
    *    the bound flips the loop layout ([[Relational.GraphLoop]]);
    *  - d06's per-round component-label table (CcProbe@059cb1a, r15,
    *    SCALE.md);
    *  - d04's signature table and s03's corpus-vector table in their
    *    candidate → row fetch joins (SizedBitsProbe2 at 5974cb1, r15).
    * The 1 GiB adjacency bound and the percentile row bound are
    * measured separately (see Relational).
    */
  private[operators] val SideTableBroadcastMaxBytes = 256L << 20

  /** `broadcast` if `fits` (the caller's estimate is within its bound),
    * the identity otherwise — decided once per plan, applied per join.
    */
  private[operators] def hintIf(fits: Boolean): DataFrame => DataFrame =
    if (fits) broadcast else identity
}
