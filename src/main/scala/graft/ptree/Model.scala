package graft.ptree

/** Flat relational encoding of one path-compressed prefix-tree (radix trie)
  * node.
  *
  * Same table shape as the reference's `PTLayout`
  * (/root/reference/PrefixTree.ecl:267-276): a trie is just a dataset of
  * nodes with parent pointers, so it stores/partitions/joins like any other
  * table.
  *
  *  - `id`       unique node id; 0 is reserved for the virtual root. Ids are
  *               partition-local: `(partitionId << 44) | localCounter`, so id
  *               assignment needs no cross-partition coordination (the
  *               reference seeds `computeNode * 10^14`,
  *               /root/reference/PrefixTree.ecl:172-181). Supports 2^20
  *               partitions x 2^44 nodes each within a signed Long.
  *  - `parent_id` 0 means "child of the root" (ecl:269).
  *  - `_max`/`_min` max/min length of any word in the subtree under this
  *               node (ecl:270-271) - the query's length-window prune key.
  *  - `is_word`  end-cap flag; end-cap rows carry the FULL word in `node`
  *               (ecl:280, 283), so the word set is recoverable from
  *               end-caps alone.
  *  - `compute_node` originating partition id (ecl:273, 284).
  *  - `node`     multi-char edge label (path compression), or the whole
  *               word on end-caps.
  *  - `n_occurrences` corpus multiplicity of the word on end-caps (1 on
  *               internal nodes). The reference emits one end-cap PER
  *               duplicate occurrence (ecl:205-208, never merged by its
  *               ROLLUP); a count-carrying single end-cap preserves that
  *               observable multiplicity without letting duplicate-heavy
  *               corpora bloat the trie.
  */
final case class PTNode(
    id: Long,
    parent_id: Long,
    _max: Int,
    _min: Int,
    is_word: Boolean,
    compute_node: Int,
    node: String,
    n_occurrences: Long = 1L
)

object PTNode {
  /** Partition-id shift: ids are `(pid << PART_SHIFT) | counter`. */
  final val PART_SHIFT = 44
}

/** Work counters from one pruned traversal: `nodes` = trie nodes
  * examined, `cells` = banded DP cells computed (exact: a walk that
  * leaves an edge early, or whose band is clipped at the query's ends,
  * counts only the cells it filled). The
  * apples-to-apples comparison against brute force is `cells` vs
  * sum over (query, word) pairs of (|q|+1)*(|w|+1) full-matrix cells.
  */
final case class SearchStats(nodes: Long, cells: Long)

/** One-pass sizing statistics of a trie - what `Query.queryBatch` needs
  * to pick broadcast or partition-local mode WITHOUT re-scanning the trie
  * per call: the node count and the total edge-label characters.
  * Computed once at create/read time (persisted indexes carry them as a
  * sidecar / table property - see `PrefixTree.writeIndexed` /
  * `writeIndexedTable`) and cached per trie plan, so a query against a
  * built index runs ZERO sizing jobs. Stale stats are a performance
  * matter only: both modes answer identically.
  */
final case class TrieStats(nodes: Long, chars: Long)
