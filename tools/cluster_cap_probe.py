"""dedup_clusters path probe: wall time, Spark jobs and peak RSS of one
``dedup_clusters`` call on a synthetic near-dup graph.

    python tools/cluster_cap_probe.py <edges> <mode> <graph_dir> [checkout]

The graph is clique-shaped like a near-dup graph: cliques of 2/3/4/6
documents (probabilities .55/.25/.15/.05) until at least ``<edges>``
edges, plus as many singleton documents as clique members, ids a seeded
random permutation (so labels must propagate).  It is written once to
``<graph_dir>/<edges>/`` and reused.  ``mode``:

  * ``driver``      — the driver finish, whatever the size (cap 10**12);
  * ``distributed`` — the distributed loop only (cap -1, nothing pulled);
  * ``above``       — cap = edges - 1: the capped pull runs and is
    discarded, then the loop runs (the cost a graph just above the
    cap pays);
  * ``default``     — the checkout's own cap, e.g. to time a checkout
    from before the driver finish.

``checkout`` (default: this tool's own) is the tree whose package is
imported.  Both code paths are warmed on a tiny graph first.  Run each
(size, mode) in its own process: peak RSS is the process high-water
mark (``VmHWM``) of the JVM and of Python, so it includes the warm-up
and the graph scan, which every mode pays alike.  Prints one JSON line;
``checksum`` must match across modes.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def make_graph(n_edges, out, seed=7):
    rng = np.random.default_rng(seed)
    sizes, e = [], 0
    while e < n_edges:
        k = int(rng.choice([2, 3, 4, 6], p=[0.55, 0.25, 0.15, 0.05]))
        sizes.append(k)
        e += k * (k - 1) // 2
    members = sum(sizes)
    ids = rng.permutation(2 * members).astype(np.int64) + 10**9
    a, b, off = [], [], 0
    for k in sizes:
        c = ids[off:off + k]
        off += k
        for i in range(k):
            for j in range(i + 1, k):
                a.append(c[i])
                b.append(c[j])
    os.makedirs(out, exist_ok=True)
    pq.write_table(
        pa.table({"doc_a": np.array(a), "doc_b": np.array(b)}),
        os.path.join(out, "edges.parquet"),
    )
    pq.write_table(pa.table({"doc_id": ids}), os.path.join(out, "nodes.parquet"))


def vm_hwm_mb(pid):
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main(argv):
    edges_arg, mode, graph_dir = int(argv[0]), argv[1], argv[2]
    if len(argv) > 3:
        sys.path.insert(0, argv[3])
    gdir = os.path.join(graph_dir, str(edges_arg))
    if not os.path.exists(os.path.join(gdir, "nodes.parquet")):
        make_graph(edges_arg, gdir)

    from pyspark.sql import functions as F

    from tmp_parquet_merge_spark.operators import dedup
    from tmp_parquet_merge_spark.session import get_spark

    spark = get_spark("cluster_cap_probe")
    sc = spark.sparkContext
    jvm = spark._jvm.ProcessHandle.current().pid()
    pairs = spark.read.parquet(os.path.join(gdir, "edges.parquet"))
    nodes = spark.read.parquet(os.path.join(gdir, "nodes.parquet"))
    n_edges, n_nodes = pairs.count(), nodes.count()

    tiny_p = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    tiny_n = spark.createDataFrame([(i,) for i in range(1, 5)], "doc_id long")
    cap = getattr(dedup, "_DRIVER_EDGES", None)
    if cap is not None:
        for warm in (-1, cap):
            dedup._DRIVER_EDGES = warm
            dedup.dedup_clusters(tiny_p, tiny_n).collect()
        dedup._DRIVER_EDGES = {
            "driver": 10**12, "distributed": -1, "above": n_edges - 1
        }.get(mode, cap)
    elif mode != "default":
        sys.exit(f"{mode}: this checkout has no driver finish")
    else:
        dedup.dedup_clusters(tiny_p, tiny_n).collect()

    sc.setJobGroup("probe", "probe")
    t0 = time.perf_counter()
    out = dedup.dedup_clusters(pairs, nodes, "doc_id")
    build_s = time.perf_counter() - t0
    row = out.agg(
        F.count("*"),
        F.countDistinct("cluster_id"),
        F.sum(F.xxhash64("doc_id", "cluster_id").cast("decimal(38,0)")),
    ).first()
    wall_s = time.perf_counter() - t0
    print(json.dumps({
        "mode": mode, "edges": n_edges, "nodes": n_nodes,
        "wall_s": round(wall_s, 2), "build_s": round(build_s, 2),
        "jobs": len(sc.statusTracker().getJobIdsForGroup("probe")),
        "clusters": row[1], "checksum": str(row[2]),
        "peak_rss_mb": {
            "jvm": round(vm_hwm_mb(jvm)), "python": round(vm_hwm_mb("self"))
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
