"""Seeded input generators.

``make_tables`` builds the TPC-H-ish fixture tables (plus ``events``,
``documents`` and ``embeddings``) that the query registry and ``curate``
read. ``Extracts`` turns a subset of them into a Canvas Data style
publication: several gzip-TSV part files per table, a schema dict that uses
Canvas type names, and a dump history. ``Extracts.churn`` applies one
seeded day of change (files appended through a new dump, replaced, retired,
and now and then a column added) and returns the counts the sync engine
must report for it.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import csv
import gzip
import hashlib
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.15, 0.14, 0.12])
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def customers(rng, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "c_custkey": keys.astype("int64"),
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )


def suppliers(rng, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "s_suppkey": keys.astype("int64"),
            "s_name": [f"Supplier#{k:09d}" for k in keys],
            "s_nationkey": rng.integers(0, 25, n).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )


def parts(rng, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    names = np.char.add(
        np.char.add(rng.choice(PART_ADJ, n).astype(str), " "),
        rng.choice(PART_NOUN, n).astype(str),
    )
    return pd.DataFrame(
        {
            "p_partkey": keys.astype("int64"),
            "p_name": names.astype(object),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype("int32"),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )


def orders(rng, keys: np.ndarray, n_cust: int) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype("int64"),
            "o_custkey": rng.integers(0, n_cust, n).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )


def lineitems(rng, n: int, n_ord: int, n_part: int, n_supp: int) -> pd.DataFrame:
    qty = rng.integers(1, 51, n).astype("float64")
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n),
        }
    )


def events(rng, keys: np.ndarray, n_users: int, start_day: int = 0) -> pd.DataFrame:
    n = len(keys)
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n))
    base = np.datetime64("2024-01-01", "us") + np.timedelta64(start_day, "D")
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object)
    props[rng.random(n) < 0.02] = None  # extracts carry \N nulls
    return pd.DataFrame(
        {
            "event_id": keys.astype("int64"),
            "ts": base + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": props,
        }
    )


def documents(rng, n: int) -> pd.DataFrame:
    """Word-salad documents over a small vocabulary, with planted exact
    duplicates and near duplicates so every curate stage removes some."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 20 and r < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))  # near duplicate
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    keys = np.arange(n, dtype="int64")
    return pd.DataFrame(
        {
            "doc_id": keys,
            "text": texts,
            "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
            "source": [f"src{k % 20}" for k in keys],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def embeddings(rng, n: int, dim: int = 64) -> pd.DataFrame:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n).astype("int32"),
        }
    )


@dataclass(frozen=True)
class Sizes:
    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    documents: int
    embeddings: int

    @staticmethod
    def at(sf: float) -> "Sizes":
        return Sizes(
            customer=int(150_000 * sf),
            supplier=max(10, int(10_000 * sf)),
            part=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            lineitem=int(6_000_000 * sf),
            events=int(1_000_000 * sf),
            documents=max(200, int(50_000 * sf)),
            embeddings=max(200, int(50_000 * sf)),
        )


def make_tables(seed: int, sf: float, only: tuple[str, ...] | None = None) -> dict[str, pd.DataFrame]:
    """Fixture tables at scale factor ``sf`` (TPC-H row ratios)."""
    z = Sizes.at(sf)
    rng = np.random.default_rng([seed, 1])
    ar = np.arange
    gens = {
        "region": lambda: pd.DataFrame(
            {"r_regionkey": ar(5, dtype="int32"), "r_name": REGIONS}
        ),
        "nation": lambda: pd.DataFrame(
            {
                "n_nationkey": ar(25, dtype="int32"),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": (ar(25) % 5).astype("int32"),
            }
        ),
        "customer": lambda: customers(rng, ar(z.customer)),
        "supplier": lambda: suppliers(rng, ar(z.supplier)),
        "part": lambda: parts(rng, ar(z.part)),
        "orders": lambda: orders(rng, ar(z.orders), z.customer),
        "lineitem": lambda: lineitems(rng, z.lineitem, z.orders, z.part, z.supplier),
        "events": lambda: events(rng, ar(z.events), max(10, z.events // 66)),
        "documents": lambda: documents(rng, z.documents),
        "embeddings": lambda: embeddings(rng, z.embeddings),
    }
    return {name: g() for name, g in gens.items() if only is None or name in only}


def write_parquet_dir(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One ``{name}.parquet`` file per table — the layout ``sources.parquet``
    and the DuckDB oracles read."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


# -- Canvas Data extracts -----------------------------------------------------

#: tables published as extracts, and which datetime columns are day-grained
SYNC_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
DATE_COLUMNS = {"o_orderdate", "l_shipdate"}
#: the append-only table new dumps extend (Canvas Data's ``requests`` role)
STREAM_TABLE = "events"
#: tables whose part files get replaced by churn (a new name, new contents)
REPLACEABLE = ("customer", "part", "orders", "lineitem")


def canvas_type(series: pd.Series, name: str) -> dict:
    if name in DATE_COLUMNS:
        return {"type": "date"}
    kind = series.dtype
    if kind == "int64":
        return {"type": "bigint"}
    if kind == "int32":
        return {"type": "integer"}
    if kind == "float64":
        return {"type": "double precision"}
    if kind == "bool":
        return {"type": "boolean"}
    if str(kind).startswith("datetime64"):
        return {"type": "datetime"}
    return {"type": "varchar", "length": 256}


def tsv_gz(frame: pd.DataFrame, columns: list[dict]) -> bytes:
    """Header-less gzip TSV in the Canvas extract dialect (``\\N`` nulls)."""
    out = pd.DataFrame(index=frame.index)
    for col in columns:
        name, ctype = col["name"], col["type"]
        s = frame[name] if name in frame else pd.Series(None, index=frame.index, dtype=object)
        if ctype == "date":
            s = s.dt.strftime("%Y-%m-%d")
        elif ctype == "datetime":
            s = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif ctype == "boolean":
            s = s.map({True: "true", False: "false"})
        elif ctype in ("bigint", "integer"):
            s = s.astype("Int64")
        out[name] = s
    text = out.to_csv(
        sep="\t", header=False, index=False, na_rep="\\N", lineterminator="\n",
        quoting=csv.QUOTE_NONE,  # extracts are raw TSV, never quoted
    )
    return gzip.compress(text.encode(), compresslevel=1, mtime=0)


@dataclass
class ExtractFile:
    table: str
    filename: str
    frame: pd.DataFrame
    blob: bytes
    md5: str


@dataclass
class Churn:
    """What one day of change published, and the sync counts it implies."""

    dump_files: list[str]
    fetched: list[str]
    removed: list[str]
    tables: set[str]


@dataclass
class Extracts:
    """The upstream side of a Canvas Data account: current snapshot, schema
    dict and dump history. Mutated only by ``churn``."""

    seed: int
    schema: dict = field(default_factory=dict)
    files: dict[str, ExtractFile] = field(default_factory=dict)
    snapshot: list[str] = field(default_factory=list)
    dumps: list[dict] = field(default_factory=list)
    version: int = 0
    _next_event: int = 0
    _n_users: int = 10
    _n_cust: int = 10

    @staticmethod
    def build(seed: int, sf: float, rows_per_file: int) -> "Extracts":
        tables = make_tables(seed, sf, only=SYNC_TABLES)
        rng = np.random.default_rng([seed, 2])
        tables["customer"]["c_active"] = rng.random(len(tables["customer"])) < 0.9
        ex = Extracts(seed=seed)
        ex._next_event = len(tables[STREAM_TABLE])
        ex._n_users = max(10, ex._next_event // 66)
        ex._n_cust = len(tables["customer"])
        for name, df in tables.items():
            ex.schema[name] = {
                "tableName": name,
                "description": f"{name} extract",
                "columns": [
                    {"name": c, "description": f"{name}.{c}", **canvas_type(df[c], c)}
                    for c in df.columns
                ],
            }
            n_files = max(1, math.ceil(len(df) / rows_per_file))
            for part in np.array_split(np.arange(len(df)), n_files):
                ex._publish(name, df.iloc[part].reset_index(drop=True))
        ex._dump(list(ex.snapshot))
        return ex

    def _publish(self, table: str, frame: pd.DataFrame) -> str:
        tag = hashlib.sha1(f"{self.seed}/{table}/{len(self.files)}".encode()).hexdigest()[:8]
        filename = f"{table}-{len(self.files):05d}-{tag}.gz"
        blob = tsv_gz(frame, self.schema[table]["columns"])
        self.files[filename] = ExtractFile(
            table, filename, frame, blob, hashlib.md5(blob).hexdigest()
        )
        self.snapshot.append(filename)
        return filename

    def _dump(self, filenames: list[str]) -> None:
        seq = len(self.dumps)
        self.dumps.append(
            {"dumpId": f"dump-{self.seed}-{seq:04d}", "sequence": seq, "finished": True, "files": filenames}
        )

    def table_frame(self, table: str) -> pd.DataFrame:
        """Every current row of ``table`` under the current schema; columns a
        file predates read as null, exactly as the TSV reader fills them."""
        cols = [c["name"] for c in self.schema[table]["columns"]]
        frames = [self.files[f].frame for f in self.snapshot if self.files[f].table == table]
        return pd.concat(frames, ignore_index=True).reindex(columns=cols)

    def tables(self) -> list[str]:
        return sorted(self.schema)

    def churn(self, cycle: int) -> Churn:
        """One seeded day of change: a dump appending two stream files, one
        part file of every ``REPLACEABLE`` table replaced, the oldest stream
        files retired so the stream stays within two files of its initial
        size, and every third cycle, starting with the first, a column added
        to one replaced table. The seed sets contents and sizes, never the
        shape, so runs with different seeds do equal work."""
        rng = np.random.default_rng([self.seed, 3, cycle])
        base_stream = sum(1 for f in self.dumps[0]["files"] if self.files[f].table == STREAM_TABLE)
        dump_files = []
        for _ in range(2):
            n = int(rng.integers(500, 2000))
            keys = np.arange(self._next_event, self._next_event + n)
            self._next_event += n
            dump_files.append(self._publish(STREAM_TABLE, events(rng, keys, self._n_users, 30 + cycle)))
        self._dump(dump_files)

        widened = REPLACEABLE[(cycle // 3) % len(REPLACEABLE)] if cycle % 3 == 0 else None
        removed, fetched = [], []
        for table in REPLACEABLE:
            victims = [f for f in self.snapshot if self.files[f].table == table]
            old = victims[int(rng.integers(0, len(victims)))]
            frame = self._replacement(rng, table, self.files[old].frame)
            if table == widened:
                added = f"x_added_{cycle}"
                self.schema[table]["columns"].append(
                    {"name": added, "type": "integer", "description": f"added in cycle {cycle}"}
                )
                frame[added] = rng.integers(0, 1000, len(frame)).astype("int32")
            self.snapshot.remove(old)
            removed.append(old)
            fetched.append(self._publish(table, frame))

        stream = [f for f in self.snapshot if self.files[f].table == STREAM_TABLE]
        for old in stream[: max(0, len(stream) - base_stream - 2)]:
            self.snapshot.remove(old)
            removed.append(old)
        self.version += 1
        return Churn(dump_files, fetched, removed, {STREAM_TABLE, *REPLACEABLE})

    def _replacement(self, rng, table: str, frame: pd.DataFrame) -> pd.DataFrame:
        """New contents for a replaced part file: the same keys, fresh
        values; columns added by earlier cycles keep theirs."""
        keys = frame[frame.columns[0]].to_numpy()
        if table == "lineitem":
            new = frame.copy()
            new["l_extendedprice"] = np.round(new["l_extendedprice"] * 1.01, 2)
            return new
        new = {
            "customer": lambda: customers(rng, keys),
            "part": lambda: parts(rng, keys),
            "orders": lambda: orders(rng, keys, self._n_cust),
        }[table]()
        for c in frame.columns.difference(new.columns):
            new[c] = frame[c]
        return new[frame.columns]


def snapshot_keys(ex: Extracts) -> set[str]:
    return {f"{ex.files[f].table}/{f}" for f in ex.snapshot}

