"""Seeded catalog generator for the catalog_extract workload.

The shape is fixed by a size preset (SIZES) and only the content follows
the seed, so every seed asks the same amount of work of the extractor:

  * WIDE databases of small unpartitioned tables, mixing `USING parquet`
    with Hive-SerDe tables (TEXTFILE, ORC, and OpenCSVSerde, which Spark
    can only show `AS SERDE`);
  * PART databases whose tables have many partitions, in sets of four: a
    table with lowercase values (restored with MSCK), one with uppercase
    letters in its values (one ADD line per partition), a
    `__HIVE_DEFAULT_PARTITION__` table (MSCK) and a two-level table (MSCK).

`generate(seed, size)` returns the DDL script, which set-up loads through
`ScriptReplay.replay` (multi-partition ADD statements batched per line),
and the expected restore decision of every table as TSV lines
`db, table, none|msck|add, partitions`.
"""
import random

# wide_dbs x wide_tables unpartitioned tables; part_dbs x part_sets x 4
# partitioned tables of `partitions` partitions each
SIZES = {
    # the benchmark's catalog
    "bench": dict(wide_dbs=3, wide_tables=10, part_dbs=2, part_sets=1, partitions=20),
    # 200 tables, 40 of them partitioned with 20 partitions each: the size
    # the per-table costs were first measured at, for checking that the
    # benchmark's catalog shows the same per-table costs
    "large": dict(wide_dbs=8, wide_tables=20, part_dbs=5, part_sets=2, partitions=20),
}
BATCH = 12  # partitions per ADD statement line

WORDS = ("amber bay cedar delta ember fjord grove harbor iris juniper kelp lumen "
         "maple nectar onyx pine quartz raven sage tidal umber vale willow yarrow "
         "zephyr acorn basalt coral dune elm flint glade heath inlet jade kiln").split()
TYPES = ["INT", "BIGINT", "STRING", "DOUBLE", "DATE", "TIMESTAMP", "BOOLEAN",
         "DECIMAL(12,2)", "ARRAY<STRING>", "MAP<STRING,INT>"]


def _names(rng, prefix, n):
    picked = rng.sample(WORDS, n)
    return [f"{prefix}{i}_{w}" for i, w in enumerate(picked)]


def _columns(rng, n, types, offset=0):
    """n columns whose types are fixed by n and offset, in an order and with
    names drawn from the seed: the types set the cost of showing a table, so
    they do not follow the seed."""
    picked = [types[(offset + j) % len(types)] for j in range(n)]
    rng.shuffle(picked)
    return ", ".join(f"c{i}_{rng.choice(WORDS)} {t}" for i, t in enumerate(picked))


def _width(i):
    """Column count of the i-th wide table: fixed, so every seed asks the
    same work of the extractor."""
    return 3 + (i * 5) % 10


def _values(rng, n, upper):
    vals = set()
    while len(vals) < n:
        v = f"{rng.choice(WORDS)}{rng.randrange(1000)}"
        vals.add(v.capitalize() if upper else v)
    return sorted(vals)


def _add_lines(table, specs):
    out = []
    for i in range(0, len(specs), BATCH):
        parts = " ".join(f"PARTITION ({s})" for s in specs[i:i + BATCH])
        out.append(f"ALTER TABLE {table} ADD {parts};")
    return out


def generate(seed, size="bench"):
    z = SIZES[size]
    parts = z["partitions"]
    rng = random.Random(seed)
    lines, expected = [], []

    for db in _names(rng, "wide", z["wide_dbs"]):
        lines += [f"CREATE DATABASE IF NOT EXISTS {db};", f"USE {db};"]
        for i, t in enumerate(_names(rng, "t", z["wide_tables"])):
            kind = i % 4
            if kind == 0:
                ddl = f"CREATE TABLE {t} ({_columns(rng, _width(i), TYPES, i)}) USING parquet;"
            elif kind == 1:
                ddl = (f"CREATE TABLE {t} ({_columns(rng, _width(i), TYPES[:8], i)}) "
                       f"STORED AS TEXTFILE;")
            elif kind == 2:
                ddl = f"CREATE TABLE {t} ({_columns(rng, _width(i), TYPES, i)}) STORED AS ORC;"
            else:
                ddl = (f"CREATE TABLE {t} ({_columns(rng, _width(i), ['STRING'])}) "
                       f"ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.OpenCSVSerde' "
                       f"STORED AS TEXTFILE;")
            lines.append(ddl)
            expected.append((db, t, "none", 0))

    for db in _names(rng, "part", z["part_dbs"]):
        lines += [f"CREATE DATABASE IF NOT EXISTS {db};", f"USE {db};"]
        names = _names(rng, "p", 4 * z["part_sets"])
        for lower, upper, deflt, nested in zip(*[iter(names)] * 4):
            for t, up in ((lower, False), (upper, True)):
                lines.append(f"CREATE TABLE {t} (v DOUBLE, {_columns(rng, 3, TYPES[:6])}, "
                             f"k STRING) USING parquet PARTITIONED BY (k);")
                lines += _add_lines(t, [f"k='{v}'" for v in _values(rng, parts, up)])
                expected.append((db, t, "add" if up else "msck", parts))
            lines.append(f"CREATE TABLE {deflt} (v DOUBLE, k STRING) USING parquet "
                         f"PARTITIONED BY (k);")
            vals = _values(rng, parts - 1, False) + ["__HIVE_DEFAULT_PARTITION__"]
            lines += _add_lines(deflt, [f"k='{v}'" for v in vals])
            expected.append((db, deflt, "msck", parts))
            lines.append(f"CREATE TABLE {nested} (v DOUBLE, year STRING, month STRING) "
                         f"USING parquet PARTITIONED BY (year, month);")
            years = sorted(rng.sample(range(1990, 2030), max(1, parts // 10)))
            months = parts // len(years)
            lines += _add_lines(nested, [f"year='{y}',month='{m:02d}'"
                                         for y in years for m in range(1, months + 1)])
            expected.append((db, nested, "msck", len(years) * months))

    script = "\n".join(lines) + "\n"
    tsv = "".join(f"{db}\t{t}\t{d}\t{n}\n" for db, t, d, n in expected)
    return script, tsv
