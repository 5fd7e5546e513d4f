"""The workloads: seeded inputs, set-up, the fixed cycle of op kinds
and a numpy/pyarrow model that checks every op's output.

A workload's ``ops(cycle)`` is a generator of ``Op``s. The runner executes
and checks each op before asking for the next one, so code after a
``yield`` sees the table as the op left it. Inputs handed to the program
(query vectors, source DataFrames) are built before the op's timer starts.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    #: raises CheckFailed on a wrong output; may return the number of
    #: rows the op delivered to the client
    check: Callable[[object], int | None]
    #: rows the op inserts, updates or deletes (mutations only)
    changed: int = 0


class CheckFailed(AssertionError):
    """An op's output disagrees with the model."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _spark_df(spark, table: pa.Table, path: str, partitions: int):
    """Hand a generated table to Spark through a parquet file."""
    pq.write_table(table, path)
    return spark.read.parquet(path).repartition(partitions)


def referenced_bytes(ds) -> int:
    """Bytes of the data files and deletion files the version references."""
    total = 0
    for frag in ds.manifest.fragments:
        paths = [f.path for f in frag.files]
        if frag.deletion_file:
            paths.append(frag.deletion_file)
        total += sum(os.path.getsize(ds._abs(p)) for p in paths)  # noqa: SLF001
    return total


class Workload:
    name = ""
    read_kinds: tuple = ()
    write_kinds: tuple = ()
    #: nominal seconds per cycle: ``--seconds`` / CYCLE_S cycles are timed
    CYCLE_S = 1.0

    def __init__(self, seed: int, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir
        self.uri = os.path.join(workdir, f"{self.name}.lance")
        self.data_rng = np.random.default_rng([seed, 0])
        self.op_rng = np.random.default_rng([seed, 1])
        self.ds = None

    @property
    def kinds(self) -> tuple:
        return self.read_kinds + self.write_kinds

    def setup(self, phase) -> None:
        raise NotImplementedError

    def ops(self, cycle: int):
        raise NotImplementedError

    def boundary(self) -> None:
        """Called at every cycle boundary; raises when state drifted."""

    def live_arrow_bytes(self) -> int:
        raise NotImplementedError

    def space_amp(self) -> float:
        import lance_spark as ls

        return referenced_bytes(ls.dataset(self.uri)) / self.live_arrow_bytes()


# ---------------------------------------------------------------- search


def word(i: int) -> str:
    """The i-th vocabulary word: letters only, so every tokenizer keeps it whole."""
    out = "q"
    while True:
        i, rem = divmod(i, 26)
        out += chr(ord("a") + rem)
        if i == 0:
            return out


class Search(Workload):
    """Static table with BTREE, IVF_PQ and INVERTED indexes; reads only."""

    name = "search"
    read_kinds = ("knn", "filtered_knn", "fts", "lookup")
    CYCLE_S = 4.0
    N = 10_000
    DIM = 32
    CLUSTERS = 64
    VOCAB = 1000
    WORDS = 8
    PARTITIONS = 32
    SUB_VECTORS = 8
    NPROBES = 8
    REFINE = 4

    def __init__(self, *a):
        super().__init__(*a)
        r = self.data_rng
        n = self.N
        centers = r.standard_normal((self.CLUSTERS, self.DIM)) * 2.0
        self.vec = (
            centers[r.integers(0, self.CLUSTERS, n)] + r.standard_normal((n, self.DIM))
        ).astype(np.float32)
        self.cat = r.integers(0, 100, n).astype(np.int64)
        ranks = np.minimum(r.zipf(1.3, (n, self.WORDS)), self.VOCAB) - 1
        words = np.array([word(i) for i in range(self.VOCAB)], dtype=object)
        self.tokens = [set(row) for row in words[ranks].tolist()]
        self.text = [" ".join(row) for row in words[ranks].tolist()]
        self.ids = np.arange(n, dtype=np.int64)
        self.recalls: list[float] = []

    def table(self) -> pa.Table:
        flat = pa.array(self.vec.ravel(), type=pa.float32())
        return pa.table({
            "id": self.ids, "cat": self.cat, "text": self.text,
            "vec": pa.ListArray.from_arrays(
                pa.array(np.arange(0, self.N * self.DIM + 1, self.DIM, dtype=np.int32)), flat
            ),
        })

    def setup(self, phase) -> None:
        import lance_spark as ls
        from lance_spark.indexes.inverted import create_inverted_index

        with phase("write"):
            df = _spark_df(self.spark, self.table(), os.path.join(self.workdir, "in.parquet"), 4)
            ds = ls.write_dataset(df, self.uri)
        with phase("btree"):
            ds = ds.create_scalar_index(self.spark, "id", "BTREE")
        with phase("ivf_pq"):
            ds = ds.create_index(
                self.spark, "vec", "IVF_PQ", num_partitions=self.PARTITIONS,
                num_sub_vectors=self.SUB_VECTORS, metric="l2",
            )
        with phase("inverted"):
            ds = create_inverted_index(ds, self.spark, "text")
        self.ds = ds

    def live_arrow_bytes(self) -> int:
        return self.table().nbytes

    def _exact_top10(self, q: np.ndarray, mask=None) -> set:
        d = ((self.vec - q) ** 2).sum(axis=1)
        if mask is not None:
            d = np.where(mask, d, np.inf)
        return set(self.ids[np.argsort(d, kind="stable")[:10]].tolist())

    def _check_knn(self, t: pa.Table, exact: set, allowed) -> None:
        ids = t.column("id").to_pylist()
        expect(len(ids) == 10 and len(set(ids)) == 10, f"knn returned {len(ids)} rows")
        expect(all(allowed(i) for i in ids), "knn row outside the filter")
        expect(
            t.column("cat").to_pylist() == self.cat[ids].tolist(),
            "knn rows differ from the model",
        )
        dist = t.column("_distance").to_pylist()
        expect(all(a <= b for a, b in zip(dist, dist[1:])), "knn distances not ascending")
        self.recalls.append(len(exact & set(ids)) / 10.0)
        return len(ids)

    def ops(self, cycle: int):
        r = self.op_rng
        spark, ds = self.spark, self.ds

        q = self.vec[r.integers(0, self.N)] + 0.3 * r.standard_normal(self.DIM).astype(np.float32)
        nearest = {"column": "vec", "q": q.tolist(), "k": 10,
                   "nprobes": self.NPROBES, "refine_factor": self.REFINE}
        exact = self._exact_top10(q)
        yield Op(
            "knn",
            lambda: ds.scanner(spark, columns=["id", "cat"], nearest=nearest).to_table(),
            lambda t: self._check_knn(t, exact, lambda i: True),
        )

        c = int(r.integers(30, 40))
        q2 = self.vec[r.integers(0, self.N)] + 0.3 * r.standard_normal(self.DIM).astype(np.float32)
        nearest2 = {**nearest, "q": q2.tolist()}
        exact2 = self._exact_top10(q2, self.cat < c)
        yield Op(
            "filtered_knn",
            lambda: ds.scanner(
                spark, columns=["id", "cat"], nearest=nearest2, filter=f"cat < {c}",
                prefilter=True,
            ).to_table(),
            lambda t: self._check_knn(t, exact2, lambda i: self.cat[i] < c),
        )

        terms = [word(int(x)) for x in r.choice(np.arange(20, 40), 2, replace=False)]
        matching = sum(1 for toks in self.tokens if toks & set(terms))

        def check_fts(t: pa.Table) -> None:
            ids = t.column("id").to_pylist()
            expect(len(ids) == min(10, matching), f"fts returned {len(ids)} of {matching}")
            texts = t.column("text").to_pylist()
            expect(texts == [self.text[i] for i in ids], "fts rows differ from the model")
            expect(all(self.tokens[i] & set(terms) for i in ids), "fts hit without a term")
            sc = t.column("_score").to_pylist()
            expect(all(a >= b for a, b in zip(sc, sc[1:])), "fts scores not descending")
            return len(ids)

        yield Op(
            "fts",
            lambda: ds.scanner(
                spark, columns=["id", "text"], full_text_query=" ".join(terms), limit=10
            ).to_table(),
            check_fts,
        )

        key = int(r.integers(0, self.N))

        def lookup():
            hit = ds.scan_with_index(spark, f"id = {key}", columns=["_rowid"]).to_table()
            return ds.take(spark, hit.column("_rowid").to_pylist(), columns=["id", "cat", "text"]).toArrow()

        def check_lookup(t: pa.Table) -> None:
            expect(t.num_rows == 1, f"lookup returned {t.num_rows} rows")
            expect(
                t.column("id")[0].as_py() == key and t.column("cat")[0].as_py() == self.cat[key]
                and t.column("text")[0].as_py() == self.text[key],
                "lookup row differs from the model",
            )
            return 1

        yield Op("lookup", lookup, check_lookup)


# ---------------------------------------------------------------- write_mix


class WriteMix(Workload):
    """Indexed table under append / upsert / delete / compact with fresh
    reads and time travel; every cycle leaves the table as it found it."""

    name = "write_mix"
    #: fresh reads at the latest version, one kind per preceding write so
    #: each kind always reads the same table state
    read_kinds = ("lookup_after_append", "count_after_upsert", "lookup_after_delete",
                  "count_after_compact", "travel")
    write_kinds = ("append", "upsert", "delete", "compact")
    CYCLE_S = 6.0
    BASE_FRAGMENTS = 4
    BASE_ROWS = 25_000  # per base fragment
    HOT = 2_000  # live rows outside the base fragments
    APPEND = 256
    UPSERT = 256  # half matched, half new keys
    HISTORY = 128  # metadata-only versions written at set-up
    CACHE = 64  # manifest cache entries

    def __init__(self, *a):
        super().__init__(*a)
        self.n_base = self.BASE_FRAGMENTS * self.BASE_ROWS
        # model: one row per key; base keys [0, n_base), hot keys [lo, next_key)
        n = self.n_base + self.HOT
        self.val = self.data_rng.standard_normal(n)
        self.grp = self.data_rng.integers(0, 100, n).astype(np.int64)
        self.lo, self.next_key = self.n_base, n
        self.travel_targets: list[int] = []
        self.snapshots: dict[int, np.ndarray] = {}
        self.state = None
        self.compact_target = 0

    def _table(self, keys: np.ndarray) -> pa.Table:
        return pa.table({"id": keys, "val": self.val[keys], "grp": self.grp[keys]})

    def _grow(self, upto: int) -> None:
        if upto > len(self.val):
            extra = upto - len(self.val) + 4096
            self.val = np.concatenate([self.val, np.zeros(extra)])
            self.grp = np.concatenate([self.grp, np.zeros(extra, dtype=np.int64)])

    def live_keys(self) -> np.ndarray:
        return np.concatenate([np.arange(self.n_base), np.arange(self.lo, self.next_key)])

    def live_arrow_bytes(self) -> int:
        return self._table(self.live_keys()).nbytes

    def _source(self, table: pa.Table, name: str):
        """A small source DataFrame: one parquet file, one partition."""
        path = os.path.join(self.workdir, name)
        pq.write_table(table, path)
        return self.spark.read.parquet(path)

    def setup(self, phase) -> None:
        import lance_spark as ls

        base = np.arange(self.n_base)
        hot = np.arange(self.n_base, self.next_key)
        with phase("write"):
            df = _spark_df(self.spark, self._table(base), os.path.join(self.workdir, "base.parquet"),
                           self.BASE_FRAGMENTS)
            ds = ls.write_dataset(df, self.uri)
            self.snapshots[ds.version] = self.grp[base].copy()
        with phase("btree"):
            ds = ds.create_scalar_index(self.spark, "id", "BTREE")
            self.snapshots[ds.version] = self.grp[base].copy()
        with phase("hot"):
            ds = ls.write_dataset(self._source(self._table(hot), "hot.parquet"), self.uri, mode="append")
        with phase("history"):
            # metadata-only versions: the history outgrows the manifest
            # cache, so the first CACHE of them are evicted again
            first = ds.version
            for i in range(self.HISTORY):
                ds = ds.update_config({"lbench.history": str(i)})
            live = self.live_keys()
            for v in range(first, ds.version + 1):
                self.snapshots[v] = self.grp[live].copy()
            outside = list(range(first + 1, first + 1 + self.HISTORY - self.CACHE))
            self.travel_targets = self.op_rng.permutation(outside).tolist()
        # base fragments hold >= half the compaction target and never take
        # a deletion, so compaction only ever rewrites the hot fragments
        self.compact_target = 2 * min(f.num_rows for f in ds.manifest.fragments[: self.BASE_FRAGMENTS])
        self.ds = ds
        self.boundary()

    def _manifest_state(self) -> tuple:
        import lance_spark as ls

        ds = ls.dataset(self.uri)
        frags = ds.manifest.fragments
        idx = next(i for i in ds.manifest.indices if i.index_type == "BTREE")
        covered = sorted(set(idx.fragment_ids) & {f.id for f in frags})
        return (
            sum(f.num_rows for f in frags),
            len(frags),
            sum(1 for f in frags if f.deletion_file),
            tuple(covered),
        )

    def _live(self) -> int:
        return self.n_base + (self.next_key - self.lo)

    @staticmethod
    def _rows_check(kind: str, want: int):
        def check(ds):
            n = ds.count_rows()
            expect(n == want, f"{kind} left {n} live rows, model has {want}")

        return check

    def boundary(self) -> None:
        state = self._manifest_state()
        live = self._live()
        expect(state[0] == live, f"live rows {state[0]} != model {live}")
        expect(state[2] == 0, f"{state[2]} deletion files left at a cycle boundary")
        if self.state is not None:
            expect(state == self.state, f"table drifted: {self.state} -> {state}")
        self.state = state

    def _lookup_op(self, kind: str, key: int) -> Op:
        import lance_spark as ls

        spark = self.spark

        def run():
            return ls.dataset(self.uri).scan_with_index(spark, f"id = {key}").to_table()

        def check(t):
            expect(t.num_rows == 1, f"{kind} returned {t.num_rows} rows for {key}")
            row = t.to_pylist()[0]
            expect(
                row["id"] == key and row["val"] == self.val[key] and row["grp"] == self.grp[key],
                f"{kind} row {key} differs from the model",
            )
            return 1

        return Op(kind, run, check)

    def _count_op(self, kind: str) -> Op:
        import lance_spark as ls

        g = int(self.op_rng.integers(10, 90))
        spark = self.spark

        def check(n):
            want = int((self.grp[self.live_keys()] < g).sum())
            expect(n == want, f"{kind} {n} != model {want}")
            return 1

        return Op(kind, lambda: ls.dataset(self.uri).count_rows(spark, filter=f"grp < {g}"), check)

    def ops(self, cycle: int):
        import lance_spark as ls

        r, spark = self.op_rng, self.spark

        # append: fresh keys
        keys = np.arange(self.next_key, self.next_key + self.APPEND)
        self._grow(keys[-1] + 1)
        self.val[keys] = r.standard_normal(len(keys))
        self.grp[keys] = r.integers(0, 100, len(keys))
        src = self._source(self._table(keys), f"append-{cycle}.parquet")
        yield Op("append", lambda: ls.write_dataset(src, self.uri, mode="append"),
                 self._rows_check("append", self._live() + self.APPEND))
        self.next_key += self.APPEND
        # a base key: the index answers for covered fragments, the new
        # fragment is scanned flat
        yield self._lookup_op("lookup_after_append", int(r.integers(0, self.n_base)))

        # upsert: half the source rows match live hot keys, half are new
        half = self.UPSERT // 2
        matched = r.choice(np.arange(self.lo, self.next_key), half, replace=False)
        new = np.arange(self.next_key, self.next_key + half)
        keys = np.concatenate([matched, new])
        self._grow(new[-1] + 1)
        val, grp = r.standard_normal(len(keys)), r.integers(0, 100, len(keys))
        src = self._source(pa.table({"id": keys, "val": val, "grp": grp}), f"upsert-{cycle}.parquet")
        yield Op(
            "upsert",
            lambda: ls.dataset(self.uri).merge_insert("id").when_matched_update_all()
            .when_not_matched_insert_all().execute(spark, src),
            self._rows_check("upsert", self._live() + half),
            changed=self.UPSERT,
        )
        self.val[keys], self.grp[keys] = val, grp
        self.next_key += half
        yield self._count_op("count_after_upsert")

        # delete: the oldest hot keys, so live rows return to the start
        n_del = self.APPEND + half
        lo, hi = self.lo, self.lo + n_del
        yield Op(
            "delete",
            lambda: ls.dataset(self.uri).delete(spark, f"id >= {lo} AND id < {hi}"),
            self._rows_check("delete", self._live() - n_del),
            changed=n_del,
        )
        self.lo = hi
        # a hot key: read through fragments that now carry deletion files
        yield self._lookup_op("lookup_after_delete", int(r.integers(self.lo, self.next_key)))

        yield Op(
            "compact",
            lambda: ls.dataset(self.uri).compact_files(spark, target_rows_per_fragment=self.compact_target),
            self._rows_check("compact", self._live()),
        )
        yield self._count_op("count_after_compact")

        version = self.travel_targets[cycle % len(self.travel_targets)]
        g = int(r.integers(10, 90))
        want = int((self.snapshots[version] < g).sum())

        def check_travel(n):
            expect(n == want, f"travel to v{version}: {n} != model {want}")
            return 1

        yield Op(
            "travel",
            lambda: ls.dataset(self.uri, version=version).count_rows(spark, filter=f"grp < {g}"),
            check_travel,
        )


WORKLOADS = {w.name: w for w in (Search, WriteMix)}
