"""Seeded inputs for the benchmark.

The catalog the engine opens is not generated: it is the project's sf0.1
test tables (and the sf0.001 ones for the smoke run), committed under
``perfbench/data``. ``seeded_inputs`` writes the per-run files that depend
on ``--seed``: the micro-shape tables of ``interactive`` and the CSV / JSON /
Arrow IPC files that ``bulk`` loads, sampled from the catalog.

Everything is plain numpy + pyarrow; the same seed gives byte-identical
files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _micro(rng, out_dir, scale):
    """Micro-shape tables (the reference harness's sort / top-k / grouped
    sum / LIKE / 2- and 3-way join inputs) as parquet plus one CSV."""
    n4, n5 = 10_000 // scale, 100_000 // scale
    _write(pa.table({
        "id": pa.array(np.arange(n5), pa.int64()),
        "v0": pa.array(rng.integers(0, 65536, n5), pa.int32()),
        "v1": pa.array(rng.integers(0, 32768, n5), pa.int32()),
    }), f"{out_dir}/micro_ints.parquet")
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz#_"))
    chars = alphabet[rng.integers(0, len(alphabet), (n5, 20))]
    _write(pa.table({
        "id": pa.array(np.arange(n5), pa.int64()),
        "s": ["".join(r) for r in chars],
    }), f"{out_dir}/micro_strings.parquet")
    for name, rows, keys in (("micro_j1", n4, n4), ("micro_j2", n5, n4),
                             ("micro_j3", n5, n5)):
        _write(pa.table({
            "k": pa.array(np.arange(rows), pa.int64()),
            "fk": pa.array(rng.integers(0, keys, rows), pa.int64()),
            "v": pa.array(rng.integers(0, 1000, rows), pa.int32()),
        }), f"{out_dir}/{name}.parquet")
    pacsv.write_csv(pa.table({
        "v0": pa.array(rng.integers(0, 10, n4), pa.int32()),
        "v1": pa.array(rng.integers(0, 1000, n4), pa.int32()),
    }), f"{out_dir}/micro_sum.csv")


def _ingest(rng, out_dir, base_dir):
    """Load inputs of a third of sf0.1 orders size: seeded samples of the
    catalog's lineitem rows (as CSV and as an Arrow IPC stream) and of its
    orders (ROW_ARRAY JSON)."""
    line = pq.read_table(f"{base_dir}/lineitem.parquet")
    orders = pq.read_table(f"{base_dir}/orders.parquet")
    rows = orders.num_rows // 3

    def shuffled(t, n=None):
        return t.take(pa.array(rng.permutation(t.num_rows)[:n]))

    pacsv.write_csv(shuffled(line, rows), f"{out_dir}/ingest_lineitem.csv")
    odf = shuffled(orders, rows).to_pandas()
    odf["o_orderdate"] = odf["o_orderdate"].dt.strftime("%Y-%m-%d")
    with open(f"{out_dir}/ingest_orders.json", "w") as f:
        json.dump(odf.to_dict(orient="records"), f)
    sample = shuffled(line, rows)
    with pa.OSFile(f"{out_dir}/ingest_lineitem.arrows", "wb") as sink:
        with pa.ipc.new_stream(sink, sample.schema) as w:
            w.write_table(sample, max_chunksize=65536)


def seeded_inputs(out_dir, seed, base_dir, micro, loads, sf=0.1):
    """Write the files that depend on ``seed``: the micro-shape tables and/or
    the load inputs."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    if micro:
        _micro(rng, out_dir, 1 if sf >= 0.1 else 100)
    if loads:
        _ingest(rng, out_dir, base_dir)

