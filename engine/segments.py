"""Immutable index segments + ledger (manifest) storage.

Maps the reference's sink + lifecycle surface onto a log-structured Parquet
layout (SURVEY.md §2.1):
  - ES bulk post -> atomic segment commit (S5,
    /root/reference/.../ElasticSearchBatchService.java:82-139)
  - offset commit-after-success -> ledger entry written only after the
    segment is fully on disk (S3, ConsumerWorker.java:117-120)
  - create/delete index (S7/S8, ElasticSearchClientService.java:115-123)
  - segment model + merge tombstones (D5, Lucene semantics)

Layout (Iceberg-style: immutable data files + an append-only JSON manifest
log; swap the filesystem calls for an Iceberg catalog on a real cluster —
the TableIO seam of SURVEY.md §7.3):

    <root>/<index>/
      _meta.json                    # index config snapshot
      _aliases.json                 # alias -> {filter_col, filter_val} (S9-S11)
      segments/<segment_id>/
        postings/   docs/           # parquet (postings sorted by term)
        term_stats/                 # (term, df) per segment
        stats.json                  # n_docs, sum_dl, base_doc_id, ...
      ledger/<entry_id>.json        # {kind: ingest|merge, adds, removes,
                                    #  partition_offsets, metrics}
      quarantine/<batch>/           # failed-transform rows (S13)

Crash-consistency contract (reference E1 semantics): segment data is written
FIRST, the ledger entry LAST via atomic rename. A crash between the two
leaves an orphan segment directory that the deterministic re-run of the same
batch overwrites — re-runs neither lose nor duplicate documents.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
from bisect import bisect_left, bisect_right
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field, replace
from functools import cached_property
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.config import DEFAULT_CONFIG, IndexConfig

DOCS_SCHEMA_COLS = ["doc_id", "url", "doc_len", "warc_ts", "lang", "part_id", "row_offset"]

# Target Parquet row-group size of a postings file (Spark's default is
# 128 MB). A row group is the unit a term-pruned driver read decodes, and a
# micro-ingest file spans the whole vocabulary, so with the default a
# 1-term read decoded every micro file whole. On one 62k-doc micro segment
# (33 MB, 4-core host) a 1-term read took 38-76 ms at the default, 4-11 ms
# at 1 MB, for 0.8% more bytes (45 row groups instead of 2). 1 MB still
# left every small segment one row group: a 2-term read of a 900-doc
# segment (5,404 blocks) took 3.6 ms at 1 MB and 1.6 ms at 256 KB, and a
# driver-merged 2,000-doc segment (one file) got 2 row groups at 1 MB and
# 7 at 256 KB. At 256 KB the perfbench read p50 was no worse on query_serve
# (5.76/5.56 -> 5.49/5.03 ms) or upsert_mix (6.65/6.16 -> 5.68/5.80 ms),
# for 1-4% more store bytes. At bulk scale (an 80k-doc store built in two
# 40k-doc Spark windows and Spark-merged, 32 range files) 256 KB gave 238
# row groups instead of 65, +2.3% postings bytes, reader open 7.8 -> 8.9 ms
# and refresh 6.7 -> 8.6 ms, and a 1-3 term search p50 62 -> 50 ms.
POSTINGS_ROW_GROUP_BYTES = 1 << 18

# Bytes of decoded postings (columns plus the term bytes binary search
# runs on) that one PostingsFiles, so one IndexReader view, keeps in
# memory; the view's term memo (engine.query) is held to the same bound,
# so a reader keeps at most twice this. A perfbench store is ~2 MB
# decoded and fits whole. On an 80k-doc store (jobs/build_index.py
# --docs 80000 --merge-factor 2: 13 files, 229 row groups), two passes of
# a perfbench query stream (seed 7001, 720 searches) touch 113 row groups
# (28 MB). At 0 / 8 / 16 / 32 / 64 MB, 0 / 75 / 86 / 97 / 97% of the row
# groups a search needed were in memory, search p50 was 11.8 / 10.6 /
# 10.1 / 10.3 / 10.3 ms (17.6 ms with the dataset scan this cache
# replaced), and the driver's RSS after the stream was 141 / 150 / 155 /
# 164 / 164 MB (4-core host).
POSTINGS_CACHE_BYTES = 32 << 20

# Largest store, in docs rows (superseded versions included), whose
# deleted set StoreView.deleted_doc_ids reads on the driver; a bigger one
# runs the Spark anti-join. Measured on synthetic stores (10 segments,
# ~65-byte urls, 5% of urls superseded, 0.1% tombstoned; 4-core host),
# driver / warm Spark: 0.8 / 3.1 s at 1M rows, 1.4 / 5.2 s at 2M and
# 2.2 / 5.9 s at 3M. The driver is faster at every size, but its read
# raises the driver's peak RSS by ~165 bytes a row (+180, +330 and +440 MB),
# which this bound caps.
DELETED_DRIVER_MAX_DOCS = 2_000_000


def _unescape_hive(suffix: str) -> str | None:
    """Hive partition-directory suffix -> true partition value. Spark
    escapes special chars (: / % = # etc.) as %XX and writes nulls under
    __HIVE_DEFAULT_PARTITION__; path-level listing must decode, or a value
    like "en:US" never matches its own directory."""
    if suffix == "__HIVE_DEFAULT_PARTITION__":
        return None
    from urllib.parse import unquote

    return unquote(suffix)


# Characters Spark escapes (as %XX) in a hive partition directory name
# (ExternalCatalogUtils.escapePathName); null and "" values are written
# under __HIVE_DEFAULT_PARTITION__.
_HIVE_ESCAPED = frozenset(
    [chr(c) for c in range(1, 0x20)] + list('"#%\'*/:=?\\\x7f{[]^')
)


def hive_escape(value: str | None) -> str:
    """Partition value -> the directory suffix Spark writes for it (the
    inverse of _unescape_hive)."""
    if value is None or value == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPED else c for c in value)


def parquet_files(dirs) -> list[str]:
    """The Parquet data files under `dirs` (recursing into routing= hive
    directories), without Spark's _SUCCESS and .crc side files."""
    paths = []
    for top in dirs:
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            paths += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith(".parquet") and not n.startswith((".", "_"))]
    return paths


def parquet_schema(dirs):
    """The union of the footer schemas of the Parquet files under `dirs`
    as a Spark StructType (the columns in first-seen order; a column
    whose type differs between files fails, as under Spark's
    mergeSchema), or None when there is no file. The footers are
    read with pyarrow on the driver. Timestamps read as TimestampType, as
    Spark reads the INT96 every writer here writes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = parquet_files(dirs)
    if not files:
        return None
    return from_arrow_schema(pa.unify_schemas([pq.read_schema(f) for f in files]))


def read_parquet_files(paths: list[str], columns: list[str] | None, filter=None):
    """`columns` (default: all) of the rows of Parquet files (matching
    `filter`, a pyarrow expression) as one pyarrow Table, read on the
    driver; INT96 timestamps come back in microseconds, as Spark reads
    them. The schema is the first file's: a column it lacks cannot be read.
    Files under routing= hive directories have a `routing` column, read
    back from the directory names as Spark reads it (unescaped, null for
    __HIVE_DEFAULT_PARTITION__)."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    if not paths:
        return pa.table({c: pa.array([], type=pa.null()) for c in columns or []})
    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us"))
    part = None
    if any(os.path.basename(os.path.dirname(p)).startswith("routing=") for p in paths):
        part = ds.partitioning(pa.schema([("routing", pa.string())]), flavor="hive")
    return ds.dataset(paths, format=fmt, partitioning=part).to_table(
        columns=columns, filter=filter)


def write_parquet(table, directory: str, plain_cols=(), row_group_bytes: int | None = None,
                  partition_col: str | None = None) -> None:
    """Write a pyarrow Table as Spark writes a DataFrame: one snappy file
    in `directory` (which must not exist yet), or with `partition_col` one
    file per value under hive `<col>=<escaped value>` directories, the
    column itself left out of the files; INT96 timestamps; every column
    nullable. Every column except `plain_cols` is dictionary-encoded —
    parquet-mr drops the dictionary where it does not pay, which for these
    tables is the near-unique columns the caller names. With
    `row_group_bytes`, row groups hold about that many bytes of Arrow data
    (Spark's `parquet.block.size`)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if partition_col is not None:
        os.makedirs(directory)
        vals = table.column(partition_col)
        # "" and null share Spark's __HIVE_DEFAULT_PARTITION__ directory:
        # one group, so one file, per directory
        vals = pc.if_else(pc.equal(vals, ""), pa.scalar(None, vals.type), vals)
        rest = table.drop_columns([partition_col])
        for v in pc.unique(vals).to_pylist():
            mask = pc.is_null(vals) if v is None else pc.equal(vals, v)
            write_parquet(rest.filter(mask), os.path.join(
                directory, f"{partition_col}={hive_escape(v)}"), plain_cols, row_group_bytes)
        return
    table = table.cast(pa.schema([f.with_nullable(True) for f in table.schema]))
    dict_cols = [f"{f.name}.list.element" if pa.types.is_list(f.type) else f.name
                 for f in table.schema if f.name not in plain_cols]
    rows = None
    if row_group_bytes and table.num_rows:
        rows = max(1, table.num_rows * row_group_bytes // max(1, table.nbytes))
    os.makedirs(directory, exist_ok=True)
    pq.write_table(
        table, os.path.join(directory, "part-00000.snappy.parquet"),
        row_group_size=rows, compression="snappy", use_dictionary=dict_cols,
        use_deprecated_int96_timestamps=True, store_schema=False,
    )


def _atomic_write_json(path: str, obj: dict) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic on posix; maps to Iceberg commit on a cluster


@dataclass
class LedgerEntry:
    entry_id: int
    kind: str  # "ingest" | "merge" | "restore" (engine/snapshot.py)
    segments_added: list[str]
    segments_removed: list[str] = field(default_factory=list)
    # per-partition committed high-water marks (reference offset semantics)
    partition_offsets: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)


class _RowGroup(NamedTuple):
    """A cached postings row group: its decoded columns (`term` always among
    them) and its terms as _TermKeys, for binary search."""

    cols: dict
    terms: "_TermKeys"

    @property
    def nbytes(self) -> int:
        return self.terms.nbytes + sum(a.get_total_buffer_size() for a in self.cols.values())


class _TermKeys:
    """A postings row group's sorted `term` column as a sequence of UTF-8
    bytes, for bisect: the column's data buffer copied once into one bytes
    object, sliced by its offsets on each probe. UTF-8 bytes order as the
    code points do, so as str and as Arrow sort. Raises ValueError if the
    column holds a null or is not sorted by term (every writer sorts it,
    and a binary search would miss rows)."""

    __slots__ = ("_data", "_off")

    def __init__(self, term) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        n = len(term)
        if term.null_count:
            raise ValueError("postings row group has a null term")
        # Arrow compares strings by UTF-8 bytes: code point order, as str does
        if n > 1 and pc.any(pc.less(term.slice(1), term.slice(0, n - 1))).as_py():
            raise ValueError("postings row group is not sorted by term")
        _, offsets, data = term.buffers()
        # a memoryview indexes to Python ints with no per-row objects kept
        width = "q" if pa.types.is_large_string(term.type) else "i"
        self._off = memoryview(offsets).cast(width)[term.offset:term.offset + n + 1]
        self._data = b"" if data is None else data.to_pybytes()

    def __len__(self) -> int:
        return len(self._off) - 1

    def __getitem__(self, i: int) -> bytes:
        return self._data[self._off[i]:self._off[i + 1]]

    @property
    def nbytes(self) -> int:
        return len(self._data) + self._off.nbytes


# Reads the row groups one query misses in several files concurrently, one
# file a task. Threads start on first use.
_FILE_READS = ThreadPoolExecutor(max_workers=4, thread_name_prefix="postings-read")


class PostingsFiles:
    """A fixed set of postings Parquet files, read on the driver, with the
    decoded row groups it has read kept in memory.

    Every footer is read once, here, and the term min/max of every row
    group is kept: a read opens only the row groups whose term range holds
    a requested term (postings are written sorted by term, so a merged
    segment's files hold disjoint term ranges). A row group with no term
    statistics (or a bound dropped for its length) is always read. A row
    group is read from disk once, only the requested columns plus `term`
    (a later read that needs more columns reads just those), and kept
    decoded in an LRU of at most POSTINGS_CACHE_BYTES; a term's rows are
    found by binary search on the term column's bytes (_TermKeys). A row
    group that is not sorted by term (no writer makes one) fails the
    read.

    The files are immutable, so the cache is never stale. Reads from
    several threads are safe: the cache is guarded by a lock, and each
    file is opened once, on its first read, and read under its own lock;
    the files one read misses are read concurrently."""

    def __init__(self, paths: list[str]) -> None:
        import pyarrow.parquet as pq

        if not paths:
            raise ValueError("no postings files to read")
        self._paths = list(paths)
        self._meta = [pq.read_metadata(p) for p in self._paths]
        self._schema = self._meta[0].schema.to_arrow_schema()
        rg_file, rg_ids, lo, hi = [], [], [], []
        for f, md in enumerate(self._meta):
            col = md.schema.names.index("term")
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(col).statistics
                known = st is not None and st.has_min_max
                rg_file.append(f)
                rg_ids.append(i)
                lo.append(st.min if known else "")
                # pyarrow writes no min/max value past 4 KB (a long token)
                # and reads it back as "": an empty max is unknown, and an
                # empty min prunes nothing already
                hi.append(st.max if known and st.max else "\U0010ffff")
        self._rg_file = np.array(rg_file, dtype=np.int64)
        self._rg_ids = np.array(rg_ids, dtype=np.int64)
        self._lo = np.array(lo, dtype=str)
        self._hi = np.array(hi, dtype=str)
        self._files = [None] * len(self._paths)  # ParquetFile, opened on first read
        self._file_locks = [threading.Lock() for _ in self._paths]
        self._lock = threading.Lock()
        self._cache: OrderedDict[int, _RowGroup] = OrderedDict()  # row group -> columns
        self._cached_bytes = 0

    def read(self, terms, columns, limit: int | None = None, stats_out: dict | None = None):
        """`columns` of the rows whose term is in `terms`, as a pyarrow
        Table of one chunk, in file, row group and row order; at most
        `limit` rows when given. Only columns every file has may be read
        (the types are the first file's). `stats_out` gets row_groups_read
        (from disk) and row_groups_cached (served from memory)."""
        import pyarrow as pa

        q_terms = sorted(set(terms))
        # numpy's str dtype drops trailing NULs: fine for pruning, which
        # only widens, but rows are matched on the exact terms
        ts = np.array(q_terms, dtype=str)
        if ts.size:
            # a row group may hold a term iff the first term >= its min is <= its max
            first = ts[np.minimum(np.searchsorted(ts, self._lo), ts.size - 1)]
            hits = np.flatnonzero((first >= self._lo) & (first <= self._hi)).tolist()
        else:
            hits = []
        want = ["term", *(c for c in columns if c != "term")]
        rgs, n_read = self._row_groups(hits, want)
        if stats_out is not None:
            stats_out.update(row_groups_read=n_read, row_groups_cached=len(hits) - n_read)
        pieces: dict[str, list] = {c: [] for c in columns}
        n = 0
        keys = [t.encode("utf-8", "surrogatepass") for t in q_terms]
        for rg in rgs:
            # the query terms in order: in a row group sorted by term, their
            # rows come in row order
            for t in keys:
                s = bisect_left(rg.terms, t)
                e = bisect_right(rg.terms, t, s)
                if limit is not None:
                    e = min(e, s + limit - n)
                if e > s:
                    for c in columns:
                        pieces[c].append(rg.cols[c].slice(s, e - s))
                    n += e - s
        return pa.table({
            c: pa.concat_arrays(p) if p else pa.array([], self._schema.field(c).type)
            for c, p in pieces.items()
        })

    def term_row_groups(self, terms: list[str]) -> list[np.ndarray]:
        """For each of `terms`, the row groups (indices, ascending) whose
        footer term range holds it: the ones a read of it opens."""
        ts = np.array(terms, dtype=str).reshape(-1, 1)
        return list(map(np.flatnonzero, (ts >= self._lo) & (ts <= self._hi)))

    def _row_groups(self, hits: list[int], columns: list[str]) -> tuple[list[_RowGroup], int]:
        """The row groups `hits` with at least `columns` decoded, and how
        many were read from disk: the cached ones come from memory, the
        rest are read (one call per file, of the columns the cache lacks,
        the files concurrently) and cached."""
        with self._lock:
            rgs = [self._cache.get(i) for i in hits]
            for i, rg in zip(hits, rgs):
                if rg is not None:
                    self._cache.move_to_end(i)

        def lacks(rg) -> list[str]:
            return [c for c in columns if rg is None or c not in rg.cols]

        miss = [k for k, rg in enumerate(rgs) if lacks(rg)]
        reads = []  # (file, positions in hits, row group ids, columns)
        for f in sorted({int(self._rg_file[hits[k]]) for k in miss}):
            ks = [k for k in miss if self._rg_file[hits[k]] == f]
            need = [c for c in columns if any(c in lacks(rgs[k]) for k in ks)]
            reads.append((f, ks, [int(self._rg_ids[hits[k]]) for k in ks], need))
        if len(reads) > 1:
            tables = list(_FILE_READS.map(lambda r: self._read_file(r[0], r[2], r[3]), reads))
        else:
            tables = [self._read_file(f, ids, need) for f, _, ids, need in reads]
        for (f, ks, ids, _), tbl in zip(reads, tables):
            start = 0
            for k, rid in zip(ks, ids):
                rows = self._meta[f].row_group(rid).num_rows
                rgs[k] = self._insert(hits[k], rgs[k], tbl.slice(start, rows), len(ks) > 1)
                start += rows
        return rgs, len(miss)

    def _read_file(self, f: int, ids: list[int], columns: list[str]):
        """`columns` of row groups `ids` of file `f`, in one call."""
        import pyarrow.parquet as pq

        with self._file_locks[f]:
            if self._files[f] is None:
                self._files[f] = pq.ParquetFile(self._paths[f], metadata=self._meta[f])
            # one call per file, threaded: on the query_serve store's hit
            # sets (1.6 row groups a search) it took 0.74 ms p50, against
            # 0.91 ms unthreaded and 1.08 ms one call per row group (4-core
            # host)
            return self._files[f].read_row_groups(ids, columns=columns, use_threads=True)

    def _insert(self, i: int, old: _RowGroup | None, part, shared: bool) -> _RowGroup:
        """Cache row group `i`: `old`'s columns plus those of `part` (a
        pyarrow Table of its rows, `shared` when it is a slice of a read of
        several row groups), evicting the least recently used row groups
        past POSTINGS_CACHE_BYTES."""
        import pyarrow as pa

        cols = dict(old.cols) if old is not None else {}
        for c in part.column_names:
            chunks = part.column(c).chunks
            # a shared slice is copied out of the buffers the other row
            # groups of its read hold, so evicting it frees its bytes
            arr = chunks[0] if len(chunks) == 1 and not shared else pa.concat_arrays(chunks)
            want = self._schema.field(c).type
            cols[c] = arr if arr.type == want else arr.cast(want)
        if old is not None:
            rg = old._replace(cols=cols)
        else:
            rg = _RowGroup(cols, _TermKeys(cols["term"]))
        with self._lock:
            prev = self._cache.pop(i, None)
            if prev is not None:
                self._cached_bytes -= prev.nbytes
            self._cache[i] = rg
            self._cached_bytes += rg.nbytes
            while self._cached_bytes > POSTINGS_CACHE_BYTES:
                self._cached_bytes -= self._cache.popitem(last=False)[1].nbytes
        return rg


def block_dfs(blocks, terms) -> dict[str, int]:
    """Document frequency of each of `terms`: block `n` summed per term
    over `blocks` (a PostingsFiles.read of at least term and n), 0 for a
    term with no block. Equal to the df term_stats persists."""
    sums = blocks.group_by("term").aggregate([("n", "sum")])
    found = dict(zip(sums["term"].to_pylist(), sums["n_sum"].to_pylist()))
    return {t: int(found.get(t, 0)) for t in set(terms)}


class IndexStore:
    """One named index on disk. All mutation goes through ledger commits."""

    def __init__(self, root: str, name: str, cfg: IndexConfig = DEFAULT_CONFIG):
        self.root = root
        self.name = name
        self.cfg = cfg
        self.path = os.path.join(root, name)

    # -- lifecycle (S7/S8) --------------------------------------------------
    def create(self) -> "IndexStore":
        os.makedirs(os.path.join(self.path, "segments"), exist_ok=True)
        os.makedirs(os.path.join(self.path, "ledger"), exist_ok=True)
        # create is idempotent on an EXISTING store (reference createIndex
        # no-op guard): never rewrite _meta.json — a re-create with a
        # different cfg would silently switch the store's codec and make
        # every existing segment undecodable (review finding r04)
        if not os.path.exists(os.path.join(self.path, "_meta.json")):
            # the store's full settings contract is persisted (not just the
            # codec): jobs that operate on an EXISTING store (update_by_query,
            # rollover generations, reindex destinations) resolve their
            # IndexConfig from here via persisted_config() instead of
            # defaulting — a CLI invocation without flags must not silently
            # strip routing/_source/positions from a store that has them
            _atomic_write_json(
                os.path.join(self.path, "_meta.json"),
                {"name": self.name, "k1": self.cfg.k1, "b": self.cfg.b,
                 "block_size": self.cfg.block_size, "codec": self.cfg.codec,
                 "routing_col": self.cfg.routing_col,
                 "store_positions": self.cfg.store_positions,
                 "store_source": self.cfg.store_source},
            )
        if not os.path.exists(os.path.join(self.path, "_aliases.json")):
            _atomic_write_json(os.path.join(self.path, "_aliases.json"), {})
        return self

    def create_and_alias(
        self, alias: str, filter_col: str | None = None, filter_val=None,
        routing: str | None = None,
    ) -> "IndexStore":
        """One-call create-index-then-alias, the reference's
        createIndexAndAlias (ElasticSearchClientService.java:125-128).
        Idempotent like create(); the alias (optionally filtered/routed,
        S10/S11) points at this index when the call returns."""
        self.create()
        self.add_alias(alias, filter_col=filter_col, filter_val=filter_val,
                       routing=routing)
        return self

    def delete(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_meta.json"))

    @property
    def codec(self) -> str:
        """Posting-block codec this store was created with ("varint" for
        stores predating the codec field). Every segment of a store shares
        one codec; ingest/merge/query all resolve it from here."""
        return self.persisted_config().codec

    def persisted_config(self) -> IndexConfig:
        """The IndexConfig this store was CREATED with, rehydrated from
        _meta.json — the authoritative settings contract for jobs that
        mutate an existing store (update_by_query, rollover generations).
        Fields a pre-existing store's meta lacks fall back to defaults,
        matching how those stores actually behave."""
        mp = os.path.join(self.path, "_meta.json")
        try:
            with open(mp) as f:
                meta = json.load(f)
        except FileNotFoundError:
            return DEFAULT_CONFIG
        return replace(
            DEFAULT_CONFIG,
            k1=float(meta.get("k1", DEFAULT_CONFIG.k1)),
            b=float(meta.get("b", DEFAULT_CONFIG.b)),
            block_size=int(meta.get("block_size", DEFAULT_CONFIG.block_size)),
            codec=meta.get("codec", "varint"),
            routing_col=meta.get("routing_col"),
            store_positions=bool(meta.get("store_positions", False)),
            store_source=bool(meta.get("store_source", False)),
        )

    # -- ledger ---------------------------------------------------------------
    def ledger_entries(self) -> list[LedgerEntry]:
        d = os.path.join(self.path, "ledger")
        if not os.path.isdir(d):
            return []
        out = []
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".json"):
                with open(os.path.join(d, fn)) as f:
                    out.append(LedgerEntry(**json.load(f)))
        return sorted(out, key=lambda e: e.entry_id)

    def next_entry_id(self) -> int:
        return self.view().next_entry_id

    def commit(self, entry: LedgerEntry) -> None:
        """Write `entry` create-if-absent: a fully written temp file is
        linked into place, and the link fails if the entry id is taken."""
        d = os.path.join(self.path, "ledger")
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(asdict(entry), f, indent=1, sort_keys=True)
            os.link(tmp, os.path.join(d, f"{entry.entry_id:010d}.json"))
        except FileExistsError:
            raise RuntimeError(f"ledger entry {entry.entry_id} already committed") from None
        finally:
            os.unlink(tmp)

    def view(self) -> "StoreView":
        """The store as of ONE ledger_entries() read (see StoreView)."""
        entries = tuple(self.ledger_entries())
        live: dict[str, None] = {}  # insertion-ordered set: one linear fold
        for e in entries:
            for s in e.segments_removed:
                live.pop(s, None)
            live.update(dict.fromkeys(e.segments_added))
        return StoreView(self, entries, tuple(live), self.codec)

    def live_segments(self) -> list[str]:
        return list(self.view().segments)

    def committed_offsets(self) -> dict[int, int]:
        return self.view().committed_offsets

    def has_batch(self, batch_id: int) -> bool:
        return any(
            e.metrics.get("batch_id") == batch_id
            for e in self.ledger_entries()
            if e.kind == "ingest"
        )

    # -- segments -------------------------------------------------------------
    def segment_path(self, segment_id: str) -> str:
        return os.path.join(self.path, "segments", segment_id)

    def write_segment(
        self,
        segment_id: str,
        postings: DataFrame,
        docs: DataFrame,
        stats: dict,
        ranged: bool = False,
        term_metrics: dict | None = None,
    ) -> DataFrame:
        """Write (or deterministically overwrite) one immutable segment.

        The expensive postings plan executes exactly ONCE: term_stats (and
        any caller-side metrics) are derived from the parquet read-back, not
        by re-running the build. Returns the read-back postings DataFrame.

        `ranged=False` (micro-ingest segments): blocks are written straight
        out of the builder with only a PARTITION-LOCAL sort by
        (term, min_doc) — a narrow transformation, so the build executes
        once with no persist/count materialization job and no
        repartitionByRange sampling job (two fewer Spark jobs per
        micro-batch; per-batch fixed job count is what bounds loop
        throughput at 10^12-doc scale). Term-sorted files still give
        `WHERE term IN (...)` row-group skipping within every file.

        `ranged=True` (merge output — the big long-lived segment): the
        global range layout — each term's blocks collapsed to one contiguous
        file range — is GUARANTEED BY THE CALLER: `build_posting_blocks`
        already range-exchanged the long-form postings on
        (routing?, term, doc_id) before encoding, so its block output is
        globally range-partitioned and intra-partition ordered. The flag is
        a contract marker, not a shuffle: re-ranging the blocks here would
        repeat a sampling job + a full block shuffle for a layout the input
        already has (ADVICE r03). Routed segments (D9) are additionally
        hive-partitioned by routing: a routed query's scan touches ONLY
        that routing value's files.

        term_stats: persisted ONLY for ranged (long-lived merge) segments —
        a micro-ingest segment lives until the next tiered merge, and its
        (term, df) table is exactly derivable from the block rows' `n`
        column (term_stats_df falls back to a column-pruned, term-pushed
        scan of the postings metadata for segments without the file), so
        writing it per micro-batch was a pure fixed-job tax (one
        agg+write action per batch).

        `term_metrics` (optional dict, filled in place): per-term-run df
        skew — max(n)/median(n) over the block rows, observe()d ON the
        postings write action itself, zero extra jobs. Block rows are
        per-(partition, term) runs, so for micro segments this reads as
        "df partials per doc-range partition"; max/median still flags
        hot-term skew (a hot term is hot in every partition).
        """
        sp = self.segment_path(segment_id)
        spark = postings.sparkSession
        routed = "routing" in postings.columns
        sort_cols = (["routing"] if routed else []) + ["term", "min_doc"]
        to_write = postings.sortWithinPartitions(*sort_cols)
        obs = None
        if term_metrics is not None:
            from pyspark.sql import Observation

            obs = Observation()
            to_write = to_write.observe(
                obs,
                F.max("n").alias("max_df"),
                F.expr("percentile_approx(n, 0.5)").alias("median_df"),
            )
        writer = to_write.write.mode("overwrite").option(
            "parquet.block.size", POSTINGS_ROW_GROUP_BYTES
        )
        if routed:
            writer = writer.partitionBy("routing")
        writer.parquet(os.path.join(sp, "postings"))
        if obs is not None:
            term_metrics.update(obs.get)
        written = self._read_parquet(spark, os.path.join(sp, "postings"))
        if ranged:
            from engine.postings import term_stats as _ts

            _ts(written).write.mode("overwrite").parquet(
                os.path.join(sp, "term_stats")
            )
        doc_writer = docs.write.mode("overwrite")
        if routed and "routing" in docs.columns:
            doc_writer = doc_writer.partitionBy("routing")
        doc_writer.parquet(os.path.join(sp, "docs"))
        _atomic_write_json(os.path.join(sp, "stats.json"), stats)
        return written

    def write_segment_tables(self, segment_id: str, postings, docs, stats: dict,
                             positions=None, ranged: bool = False) -> None:
        """write_segment for pyarrow Tables built on the driver: (over)write
        one segment in the layout the Spark writers give it — postings
        sorted by (term, min_doc) in POSTINGS_ROW_GROUP_BYTES row groups,
        routed tables in routing= hive directories, and the positions
        sidecar when given (sorted by (term, doc_id)). `ranged` (a merge
        output) also writes the segment's term_stats table; a driver-written
        postings file is one term-sorted file per routing value, so it has
        the ranged layout already."""
        import pyarrow as pa

        sp = self.segment_path(segment_id)
        shutil.rmtree(sp, ignore_errors=True)
        part = "routing" if "routing" in docs.column_names else None
        write_parquet(
            postings.sort_by([("term", "ascending"), ("min_doc", "ascending")]),
            os.path.join(sp, "postings"), plain_cols=("term", "doc_bytes", "dl_bytes"),
            row_group_bytes=POSTINGS_ROW_GROUP_BYTES, partition_col=part,
        )
        if ranged:
            df = postings.group_by("term").aggregate([("n", "sum")])
            write_parquet(pa.table({"term": df.column("term"),
                                    "df": df.column("n_sum").cast(pa.int64())}).sort_by("term"),
                          os.path.join(sp, "term_stats"))
        write_parquet(docs, os.path.join(sp, "docs"), plain_cols=("doc_id", "url", "source"),
                      partition_col=part)
        if positions is not None:
            write_parquet(positions.sort_by([("term", "ascending"), ("doc_id", "ascending")]),
                          os.path.join(sp, "positions"), partition_col=part)
        _atomic_write_json(os.path.join(sp, "stats.json"), stats)

    @staticmethod
    def _read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
        """Parquet read that keeps hive partition values as strings (a
        routing value like "7" must not come back as an int column).

        The schema is the union of the files' footers (parquet_schema),
        handed to the reader: a store whose segments straddle a schema
        addition (e.g. the round-5 imp_tf/imp_dl impacts columns) reads as
        the UNION schema with nulls for old segments, as the reader's
        legacy fallback expects, and building the plan runs no Spark job
        (Spark's own inference runs one, with or without mergeSchema)."""
        schema = parquet_schema(paths)
        if schema is None:  # no data file: Spark's inference reports it
            df = spark.read.option("mergeSchema", "true").parquet(*paths)
        else:
            df = spark.read.schema(schema).parquet(*paths)
        if "routing" in df.columns:
            df = df.withColumn("routing", F.col("routing").cast("string"))
        return df

    def segment_stats(self, segment_id: str) -> dict:
        with open(os.path.join(self.segment_path(segment_id), "stats.json")) as f:
            return json.load(f)

    def drop_segment_files(self, segment_id: str) -> None:
        shutil.rmtree(self.segment_path(segment_id), ignore_errors=True)

    def docs(self, spark: SparkSession) -> DataFrame:
        return self.view().docs(spark)

    def postings(self, spark: SparkSession) -> DataFrame:
        return self.view().postings(spark)

    def global_stats(self) -> dict:
        return self.view().stats()

    # -- aliases (S9-S11) ---------------------------------------------------
    def _aliases(self) -> dict:
        with open(os.path.join(self.path, "_aliases.json")) as f:
            return json.load(f)

    def add_alias(
        self, alias: str, filter_col: str | None = None, filter_val=None,
        routing: str | None = None,
    ) -> None:
        """Plain alias (S10) or filtered alias (S11 — the reference's only
        literal query operator: termQuery(field, value) restriction), with an
        optional ROUTING value: the reference's
        addAliasWithRoutingToExistingIndex(index, alias, routing, field=value)
        (ElasticSearchClientService.java:135-138) attaches BOTH a routing
        value and a term filter to every request through the alias."""
        a = self._aliases()
        a[alias] = {
            "filter_col": filter_col, "filter_val": filter_val,
            "routing": routing,
        }
        _atomic_write_json(os.path.join(self.path, "_aliases.json"), a)

    def remove_alias(self, alias: str) -> None:
        """Detach an alias (the remove half of ES's atomic alias swap —
        _rollover moves an alias by remove-here + add-there)."""
        a = self._aliases()
        a.pop(alias, None)
        _atomic_write_json(os.path.join(self.path, "_aliases.json"), a)

    def alias_spec(self, alias: str) -> dict:
        spec = self._aliases()[alias]
        spec.setdefault("routing", None)  # aliases written before the slot
        return spec

    def docs_via_alias(self, spark: SparkSession, alias: str) -> DataFrame:
        """Alias read = view with the filter predicate; Catalyst pushes the
        equality down to the parquet scan (partition/row-group pruning). An
        alias routing value prunes the scan to that routing partition first."""
        spec = self.alias_spec(alias)
        df = self.view().docs(spark, routing=spec["routing"])
        if spec["filter_col"] is not None:
            df = df.where(F.col(spec["filter_col"]) == F.lit(spec["filter_val"]))
        return df


def live_doc_ids(docs_df):
    """Latest doc per url: rank by (warc_ts desc, doc_id desc) — newest
    segment wins ties, matching ES upsert-by-id last-write-wins (D10)."""
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("doc_id").desc()
    )
    return (
        docs_df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


@dataclass(frozen=True)
class StoreView:
    """An IndexStore as of ONE ledger_entries() read: the entries, the live
    segments they fold to, and the codec. Every read answers from that one
    state, so stats, postings, docs and tombstones of one call always
    belong together; a commit after the view was taken is invisible to it.
    A read path takes `view = store.view()` once on entry and hands the
    view to what it calls (`StoreView.view()` returns the view itself).

    `restrict(segments)` narrows the segments, keeping the entries (merge
    inputs). Properties that read segment stats or the filesystem, the
    deleted set (per cap) and the postings files are computed once per
    view."""

    store: IndexStore
    entries: tuple[LedgerEntry, ...]
    segments: tuple[str, ...]
    codec: str

    def view(self) -> "StoreView":
        return self

    def restrict(self, segments) -> "StoreView":
        gone = [s for s in segments if s not in self.segments]
        if gone:
            raise ValueError(f"index {self.store.name}: segments not live: {gone}")
        return replace(self, segments=tuple(segments))

    # -- ledger state ---------------------------------------------------------
    @property
    def next_entry_id(self) -> int:
        return (self.entries[-1].entry_id + 1) if self.entries else 0

    @cached_property
    def committed_offsets(self) -> dict[int, int]:
        """Per-partition high-water marks folded over the entries (S2 RESTART)."""
        hwm: dict[int, int] = {}
        for e in self.entries:
            for p, o in e.partition_offsets.items():
                hwm[int(p)] = max(hwm.get(int(p), -1), int(o))
        return hwm

    @cached_property
    def doc_id_hwm(self) -> int:
        """Doc-id space high-water mark. Each segment records `doc_id_hwm`;
        merges carry forward the max of their inputs, so the live set alone
        determines the next base and ids are never reused."""
        base = 0
        for s in self.segments:
            st = self.store.segment_stats(s)
            base = max(base, st.get("doc_id_hwm", st["base_doc_id"] + st["n_docs"]))
        return base

    def stats(self, routing: str | None = None) -> dict:
        """Corpus stats summed over the segments. With `routing`: that
        routing partition's own stats (shard-local BM25 semantics: a routed
        ES query_then_fetch search scores with the routed shard's own stats
        — SURVEY.md §2.5 D9)."""
        n_docs, sum_dl = 0, 0
        for s in self.segments:
            st = self.store.segment_stats(s)
            if routing is not None:
                st = (st.get("routing_stats") or {}).get(routing)
                if not st:
                    continue
            n_docs += st["n_docs"]
            sum_dl += st["sum_dl"]
        return {
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
        }

    def routing_values(self) -> list[str]:
        vals: set[str] = set()
        for s in self.segments:
            vals.update((self.store.segment_stats(s).get("routing_stats") or {}).keys())
        return sorted(vals)

    @cached_property
    def has_positions(self) -> bool:
        """True when EVERY segment carries the positions sidecar (a store
        whose history straddles the store_positions flag cannot answer
        phrase queries — fail loudly rather than return partial matches)."""
        return bool(self.segments) and all(
            os.path.isdir(os.path.join(self.store.segment_path(s), "positions"))
            for s in self.segments
        )

    # -- delete_by_query tombstones (engine/updates.py) -----------------------
    @cached_property
    def active_deletes(self) -> list[LedgerEntry]:
        """Delete entries that can still match a doc of the segments. A
        delete applies only to docs that existed when it committed; doc ids
        are globally monotonic (doc_id_hwm) and a merge expunges every
        active tombstone of its inputs, so once every segment was CREATED
        after the delete entry the entry is inert and read paths skip its
        anti-join entirely."""
        if not self.segments:
            return []
        created = {s: e.entry_id for e in self.entries for s in e.segments_added}
        oldest = min(created[s] for s in self.segments)
        return [e for e in self.entries if e.kind == "delete" and e.entry_id > oldest]

    def deleted_ids(self, spark: SparkSession):
        """(doc_id) relation of delete_by_query tombstones, or None when no
        active delete entries exist (the common, zero-cost path). Bounded by
        the delete rate between merges — the Lucene live-docs-bitset analog."""
        if not self.active_deletes:
            return None
        paths = [os.path.join(self.store.path, e.metrics["deletes_dir"])
                 for e in self.active_deletes]
        return IndexStore._read_parquet(spark, *paths).select("doc_id").distinct()

    def live_docs(self, spark: SparkSession, docs: DataFrame | None = None):
        """The live-docs relation every store read path shares:
        last-write-wins version ranking (multi-segment upsert, D10) MINUS
        delete_by_query tombstones (engine/updates.py). Returns None when no
        filtering is needed — one segment and no active deletes — so callers
        skip the join entirely (the common path costs nothing).

        Ordering matters: the version ranking runs BEFORE the tombstone
        anti-join. Deleting a url's latest version must delete the url, not
        resurrect the superseded older version (ES delete-by-id semantics).

        `docs`: a relation of this view's docs to rank (default: all of
        them), e.g. one already pruned by routing or a url filter."""
        multi = len(self.segments) > 1
        dels = self.deleted_ids(spark)
        if not multi and dels is None:
            return None
        if docs is None:
            docs = self.docs(spark)
        live = live_doc_ids(docs) if multi else docs
        if dels is not None:
            live = live.join(dels, "doc_id", "left_anti")
        return live

    @cached_property
    def tombstoned_ids(self):
        """Sorted unique ids the active delete entries tombstone (int64
        numpy), read on the driver."""
        dirs = [os.path.join(self.store.path, e.metrics["deletes_dir"])
                for e in self.active_deletes]
        ids = read_parquet_files(parquet_files(dirs), ["doc_id"]).column(0)
        return np.unique(np.asarray(ids.to_numpy(), dtype=np.int64))

    def live_versions(self, docs) -> np.ndarray:
        """Ids of the live docs among `docs` (a pyarrow Table of url,
        warc_ts, doc_id holding every version of its urls): each url's
        latest version (warc_ts, then doc_id) unless it is tombstoned — the
        driver twin of live_docs."""
        from engine.docids import last_write_wins

        if docs.num_rows == 0:
            return np.empty(0, dtype=np.int64)
        ids = np.asarray(docs.column("doc_id").to_numpy(), dtype=np.int64)
        latest = ids[last_write_wins(docs.column("url"),
                                     [docs.column("warc_ts"), docs.column("doc_id")])]
        return latest[~np.isin(latest, self.tombstoned_ids)]

    @cached_property
    def _deleted_by_cap(self) -> dict:
        return {}

    def deleted_doc_ids(self, spark: SparkSession, cap: int) -> frozenset | None:
        """Ids of the docs that are not live (superseded or tombstoned), for
        exclusion on the driver; None when there are more than `cap`. Up to
        DELETED_DRIVER_MAX_DOCS docs rows it is read on the driver from the
        docs files' (url, warc_ts, doc_id) and the tombstone files, with no
        Spark job; a bigger store runs the live-docs anti-join in Spark and
        collects at most cap + 1 ids. Computed once per view and cap."""
        if cap not in self._deleted_by_cap:
            self._deleted_by_cap[cap] = self._deleted_doc_ids(spark, cap)
        return self._deleted_by_cap[cap]

    def _deleted_doc_ids(self, spark: SparkSession, cap: int) -> frozenset | None:
        if len(self.segments) < 2 and not self.active_deletes:
            return frozenset()
        if self.stats()["n_docs"] > DELETED_DRIVER_MAX_DOCS:
            live = self.live_docs(spark)
            deleted = self.docs(spark).join(live.select("doc_id"), "doc_id", "left_anti")
            rows = deleted.select("doc_id").limit(cap + 1).collect()
            return None if len(rows) > cap else frozenset(r["doc_id"] for r in rows)
        docs = self.table("docs", ["url", "warc_ts", "doc_id"])
        if docs.num_rows == 0:
            return frozenset()
        ids = np.asarray(docs.column("doc_id").to_numpy(), dtype=np.int64)
        dead = ids[~np.isin(ids, self.live_versions(docs))]
        return None if len(dead) > cap else frozenset(dead.tolist())

    # -- relations --------------------------------------------------------------
    def _read_union(self, spark: SparkSession, sub: str, routing: str | None = None):
        if not self.segments:
            raise ValueError(f"index {self.store.name} has no live segments")
        paths = [os.path.join(self.store.segment_path(s), sub) for s in self.segments]
        routed = os.path.isdir(paths[0]) and any(
            d.startswith("routing=") for d in os.listdir(paths[0])
        )
        if not routed:
            return IndexStore._read_parquet(spark, *paths)
        if len(paths) == 1:
            # one segment keeps the hive partition filter (PartitionFilters
            # in the plan)
            df = IndexStore._read_parquet(spark, *paths)
            return df if routing is None else df.where(F.col("routing") == F.lit(routing))
        # hive-partitioned segment dirs (routing=...) cannot share one
        # multi-root read (CONFLICTING_DIRECTORY_STRUCTURES). Group by
        # ROUTING VALUE instead: each value's per-segment leaf dirs read as
        # ONE multi-root scan node, so the union is O(distinct routing
        # values), never O(segments). `routing` prunes at PATH-LISTING time:
        # non-matching files are never even listed. Directory suffixes are
        # HIVE-ESCAPED (%XX, __HIVE_DEFAULT_PARTITION__): compare and label
        # with the DECODED value, or "en:US" matches nothing (review r04)
        by_routing: dict[str | None, list[str]] = {}
        for p in paths:
            if not os.path.isdir(p):
                continue
            for d in os.listdir(p):
                if d.startswith("routing="):
                    rv = _unescape_hive(d[len("routing="):])
                    if routing is not None and rv != routing:
                        continue
                    by_routing.setdefault(rv, []).append(os.path.join(p, d))
        out = None
        for rv in sorted(by_routing, key=lambda v: (v is None, v)):
            # union schemas + allowMissingColumns: routing groups may
            # straddle a schema addition (the impacts columns); missing
            # columns become the nulls the readers' legacy fallbacks expect
            df = IndexStore._read_parquet(spark, *by_routing[rv])
            df = df.withColumn("routing", F.lit(rv).cast("string"))
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        if out is None:
            if routing is not None:
                # requested routing value holds no documents: empty result
                # with the store's schema (read any partition, keep no rows)
                empty = self._read_union(spark, sub).where(F.lit(False))
                return empty.withColumn("routing", F.lit(routing).cast("string"))
            raise ValueError(f"index {self.store.name}: no routing partitions under {sub}")
        return out

    def postings(self, spark: SparkSession, routing: str | None = None) -> DataFrame:
        """Posting blocks; with `routing`, pruned to that routing partition
        (D9): only routing=<val> directories are ever listed or read — the
        ES routed-shard-search data-locality analog."""
        return self._read_union(spark, "postings", routing)

    def docs(self, spark: SparkSession, routing: str | None = None) -> DataFrame:
        return self._read_union(spark, "docs", routing)

    def positions(self, spark: SparkSession) -> DataFrame:
        """Positional-postings sidecar union (engine/positions.py); present
        only for segments built with IndexConfig(store_positions=True)."""
        return self._read_union(spark, "positions")

    def term_stats_df(self, spark: SparkSession) -> DataFrame:
        """(term, df) summed over the segments. Merged (long-lived) segments
        have a persisted term_stats table; micro-ingest segments don't
        (write_segment skips it — one less action per batch), so their df
        comes from the postings block metadata directly: a column-pruned
        scan of (term, n) — the heavy posting buffers are never read, and a
        caller's `term IN (...)` filter pushes down to row-group skipping."""
        have = [
            s for s in self.segments
            if os.path.isdir(os.path.join(self.store.segment_path(s), "term_stats"))
        ]
        lack = [s for s in self.segments if s not in set(have)]
        parts = []
        if have:
            parts.append(
                self.restrict(have)._read_union(spark, "term_stats").select("term", "df")
            )
        if lack:
            parts.append(
                self.restrict(lack).postings(spark).select(
                    "term", F.col("n").cast("long").alias("df")
                )
            )
        if not parts:
            raise ValueError(f"index {self.store.name} has no live segments")
        df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        return df.groupBy("term").agg(F.sum("df").cast("long").alias("df"))

    @cached_property
    def postings_files(self) -> PostingsFiles:
        """The postings Parquet files of the segments, for reads on the
        driver with no Spark job; one per view, so every read through the
        view shares its footers and row-group cache."""
        if not self.segments:
            raise ValueError(f"index {self.store.name} has no live segments")
        return PostingsFiles(parquet_files(
            os.path.join(self.store.segment_path(s), "postings") for s in self.segments))

    def table(self, sub: str, columns: list[str] | None = None, filter=None):
        """`columns` (default: all, with `routing` on a routed store) of
        the segments' `sub` files ("docs", "postings" or "positions")
        rows matching `filter` (a pyarrow expression), read on the driver
        with no Spark job."""
        return read_parquet_files(parquet_files(
            os.path.join(self.store.segment_path(s), sub) for s in self.segments
        ), columns, filter)
