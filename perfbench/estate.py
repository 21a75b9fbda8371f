"""Seeded generator for the ``ddl_estate`` workload: a DB2 DDL estate plus a
Snowflake-dialect share, written as the text a user would hand to
``assess --pdf`` and ``convert``.

The estate uses every feature family the schema plane handles: the full DB2
type set, NOT NULL / DEFAULT / GENERATED identity / FIELDPROC / FOR BIT DATA /
CCSID modifiers, PK / FK / UNIQUE / CHECK constraints, table procs and
options, inline ``PARTITION BY RANGE`` with a STARTING/ENDING/EVERY clause,
``PARTITION BY HASH``, VOLATILE and global temporary tables, ALTER TABLE
linking, and standalone ``DISTRIBUTE BY HASH`` statements. The Snowflake
share covers plain, TEMPORARY, TRANSIENT, DYNAMIC, EXTERNAL and HYBRID
tables with semi-structured, spatial and zoned-temporal types.

The same seed gives byte-identical text.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

DB2_TABLES = 2000
SNOWFLAKE_TABLES = 400

_DB2_TYPES = (
    "SMALLINT", "INTEGER", "INT", "BIGINT", "DECIMAL({p},{s})", "DEC({p},{s})",
    "NUMERIC({p},{s})", "DECFLOAT(16)", "DECFLOAT(34)", "REAL", "FLOAT(30)",
    "FLOAT(20)", "DOUBLE", "CHAR({n})", "VARCHAR({n})", "LONG VARCHAR",
    "CLOB({big})", "GRAPHIC({n})", "VARGRAPHIC({n})", "DBCLOB({big})",
    "BINARY({n})", "VARBINARY({n})", "BLOB({big})", "DATE", "TIME",
    "TIMESTAMP", "TIMESTAMP({tp})", "XML", "ROWID", "BOOLEAN",
    "CHAR({n}) FOR BIT DATA",
)
# Common types dominate a real estate; the long tail still shows up.
_DB2_WEIGHTS = (
    4, 10, 3, 6, 8, 2, 2, 1, 1, 1, 1, 1, 2, 6, 12, 1,
    1, 1, 1, 1, 1, 1, 1, 6, 2, 5, 2, 1, 1, 2, 1,
)

_SF_TYPES = (
    "NUMBER(38,0)", "NUMBER({p},{s})", "DECIMAL({p},{s})", "INT", "BIGINT",
    "FLOAT", "DOUBLE", "VARCHAR({n})", "STRING", "TEXT", "CHAR({n})",
    "BOOLEAN", "DATE", "TIME({tp3})", "TIMESTAMP_NTZ({tp})",
    "TIMESTAMP_LTZ({tp3})", "TIMESTAMP_TZ", "DATETIME", "VARIANT", "OBJECT",
    "ARRAY", "GEOGRAPHY", "GEOMETRY", "BINARY",
)
_SF_WEIGHTS = (8, 6, 2, 3, 2, 2, 1, 12, 2, 1, 2, 3, 5, 1, 4, 2, 1, 1, 3, 1,
               1, 1, 1, 1)

_SCHEMAS = ("SALES", "HR", "FIN", "OPS", "INV", "CRM", "LOG", "GEO", "MKT",
            "RISK", "AUDIT", "STAGE")
_WORDS = ("ACCT", "ITEM", "ORDER", "CLIENT", "LEDGER", "EVENT", "PRICE",
          "STOCK", "PARTY", "ROUTE", "CLAIM", "POLICY", "ASSET", "METER",
          "BATCH", "SHIFT", "TICKET", "VENDOR", "REGION", "BUDGET")
_SF_KINDS = ("", "", "", "", "TEMPORARY ", "TRANSIENT ", "DYNAMIC ",
             "EXTERNAL ", "HYBRID ")


@dataclass(frozen=True)
class Estate:
    """Generated DDL text and the table counts it was generated with."""

    db2_ddl: str
    snowflake_ddl: str
    db2_tables: int
    snowflake_tables: int

    @property
    def tables(self) -> int:
        return self.db2_tables + self.snowflake_tables


def _fill(template: str, rng: random.Random) -> str:
    p = rng.randint(5, 31)
    return template.format(p=p, s=rng.randint(0, min(p - 1, 6)),
                           n=rng.choice((1, 8, 20, 40, 100, 255, 1000)),
                           big=rng.choice((1024, 65536, 1048576)),
                           tp=rng.choice((0, 6, 9, 12)),
                           tp3=rng.choice((0, 3, 9)))


def _db2_table(rng: random.Random, idx: int, earlier: list) -> str:
    schema = rng.choice(_SCHEMAS)
    name = f"{rng.choice(_WORDS)}_{idx:05d}"
    full = f"{schema}.{name}"
    ncols = rng.randint(3, 14)
    cols = [f"    {name[:4]}_ID BIGINT NOT NULL"]
    if rng.random() < 0.08:
        cols[0] = (f"    {name[:4]}_ID BIGINT NOT NULL GENERATED "
                   f"{rng.choice(('ALWAYS', 'BY DEFAULT'))} AS IDENTITY")
    date_cols = []
    for c in range(1, ncols):
        typ = _fill(rng.choices(_DB2_TYPES, _DB2_WEIGHTS)[0], rng)
        col = f"    C{c:02d}_{rng.choice(_WORDS)} {typ}"
        if typ == "DATE":
            date_cols.append(col.split()[0])
        r = rng.random()
        if r < 0.25:
            col += " NOT NULL"
        elif r < 0.32 and typ in ("INTEGER", "SMALLINT", "BIGINT"):
            col += " DEFAULT 0"
        elif r < 0.34 and typ.startswith(("CHAR(", "VARCHAR(")):
            col += f" FIELDPROC FP_{idx % 7}"
        elif r < 0.36 and typ.startswith("VARCHAR"):
            col += " CCSID UNICODE"
        cols.append(col)
    body = list(cols)
    pk_col = cols[0].split()[0]
    alter_pk = rng.random() < 0.05
    if not alter_pk:
        body.append(f"    PRIMARY KEY ({pk_col})")
    if earlier and rng.random() < 0.3:
        ref_full, ref_pk = rng.choice(earlier)
        body.append(f"    CONSTRAINT FK_{idx:05d} FOREIGN KEY ({pk_col}) "
                    f"REFERENCES {ref_full} ({ref_pk})")
    if rng.random() < 0.15:
        body.append(f"    CONSTRAINT UQ_{idx:05d} UNIQUE "
                    f"({cols[-1].split()[0]})")
    if rng.random() < 0.15:
        body.append(f"    CONSTRAINT CK_{idx:05d} CHECK ({pk_col} >= 0)")

    kind = rng.random()
    if kind < 0.03:
        head = f"CREATE VOLATILE TABLE {full} ("
    elif kind < 0.05:
        head = f"CREATE GLOBAL TEMPORARY TABLE {full} ("
    elif kind < 0.07:
        head = f"DECLARE GLOBAL TEMPORARY TABLE {full} ("
    else:
        head = f"CREATE TABLE {full} ("
    opts = []
    if rng.random() < 0.4:
        opts.append(f"IN TS_{rng.choice(_SCHEMAS)}")
    if rng.random() < 0.03:
        opts.append(f"EDITPROC EP_{idx % 5}")
    if rng.random() < 0.03:
        opts.append(f"VALIDPROC VP_{idx % 5}")
    if rng.random() < 0.1:
        opts.append("AUDIT CHANGES DATA CAPTURE CHANGES CCSID UNICODE")
    if date_cols and rng.random() < 0.5:
        opts.append(f"PARTITION BY RANGE ({date_cols[0]}) "
                    "(STARTING '2015-01-01' ENDING '2024-12-31' "
                    f"EVERY {rng.choice((1, 3, 12))} MONTH)")
    elif rng.random() < 0.04:
        opts.append(f"PARTITION BY HASH ({pk_col})")
    stmt = head + "\n" + ",\n".join(body) + "\n)" + (
        " " + " ".join(opts) if opts else "") + ";"
    extra = []
    if alter_pk:
        extra.append(f"ALTER TABLE {full} ADD CONSTRAINT PK_{idx:05d} "
                     f"PRIMARY KEY ({pk_col});")
    if date_cols and rng.random() < 0.03:
        extra.append(f"ALTER TABLE {full} PARTITION BY RANGE "
                     f"({date_cols[-1]});")
    if rng.random() < 0.1:
        extra.append(f"DISTRIBUTE BY HASH ({pk_col});")
    if rng.random() < 0.2:
        stmt = f"-- {full}: generated estate table {idx}\n" + stmt
    earlier.append((full, pk_col))
    return "\n".join([stmt] + extra)


def _sf_table(rng: random.Random, idx: int) -> str:
    full = f"{rng.choice(_SCHEMAS)}_SF.{rng.choice(_WORDS)}_{idx:05d}"
    kind = rng.choice(_SF_KINDS)
    ncols = rng.randint(2, 12)
    cols = [f"    ID NUMBER(38,0)"
            f"{rng.choice(('', ' AUTOINCREMENT', ' IDENTITY(1,1)', ' NOT NULL'))}"]
    for c in range(1, ncols):
        typ = _fill(rng.choices(_SF_TYPES, _SF_WEIGHTS)[0], rng)
        col = f"    C{c:02d}_{rng.choice(_WORDS)} {typ}"
        r = rng.random()
        if r < 0.2:
            col += " NOT NULL"
        elif r < 0.25 and typ.startswith("VARCHAR"):
            col += " COLLATE 'en-ci'"
        elif r < 0.28 and typ.startswith("VARCHAR"):
            col += " WITH MASKING POLICY pii_mask"
        elif r < 0.32 and typ.startswith("TIMESTAMP_NTZ"):
            col += " DEFAULT CURRENT_TIMESTAMP()"
        elif r < 0.35 and typ == "BOOLEAN":
            col += " DEFAULT TRUE"
        cols.append(col)
    if rng.random() < 0.6:
        cols.append("    PRIMARY KEY (ID)")
    if rng.random() < 0.1:
        cols.append(f"    UNIQUE ({cols[1].split()[0]})")
    if rng.random() < 0.15:
        cols.append(f"    FOREIGN KEY (ID) REFERENCES "
                    f"{rng.choice(_SCHEMAS)}_SF.PARENT (ID)")
    opts = []
    if kind == "DYNAMIC ":
        opts.append("TARGET_LAG = '1 hour' WAREHOUSE = ANALYTICS_WH")
    elif kind == "EXTERNAL ":
        opts.append("LOCATION = @landing_stage")
    else:
        if rng.random() < 0.3:
            opts.append("CLUSTER BY (ID)")
        if rng.random() < 0.2:
            opts.append(f"DATA_RETENTION_TIME_IN_DAYS = {rng.randint(1, 90)}")
        if rng.random() < 0.1:
            opts.append("CHANGE_TRACKING = TRUE")
        if rng.random() < 0.2:
            opts.append(f"COMMENT = 'generated table {idx}'")
    create = "CREATE OR REPLACE " if (not kind and rng.random() < 0.3) \
        else "CREATE "
    return (f"{create}{kind}TABLE {full} (\n" + ",\n".join(cols) + "\n)"
            + ("\n" + "\n".join(opts) if opts else "") + ";")


def generate(seed: int) -> Estate:
    rng = random.Random(seed)
    earlier: list = []
    db2 = [_db2_table(rng, i, earlier) for i in range(DB2_TABLES)]
    sf = [_sf_table(rng, i) for i in range(SNOWFLAKE_TABLES)]
    return Estate(db2_ddl="\n\n".join(db2) + "\n",
                  snowflake_ddl="\n\n".join(sf) + "\n",
                  db2_tables=DB2_TABLES, snowflake_tables=SNOWFLAKE_TABLES)
