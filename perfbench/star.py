"""DB2 DDL for the ``migrate_star`` workload.

It describes every table of the bundled star-schema data whose columns all
have a DB2 type (``embeddings`` holds a float array and is left out). The
casts cover direct (BIGINT, INTEGER), compatible (CHAR, VARCHAR, DATE) and
lossy (DECIMAL from a double, TIMESTAMP(9), CLOB) mappings.

``LINEITEM`` is range-partitioned on its ship date the way DB2 fact tables
are. ``ORDERS`` is hash-distributed: the parser binds a standalone
``DISTRIBUTE BY HASH`` statement to the last table of the script, so
``ORDERS`` comes last and the statement follows it.
"""

from __future__ import annotations

STAR_DDL = """
CREATE TABLE TPCH.REGION (
    R_REGIONKEY INTEGER NOT NULL,
    R_NAME CHAR(25) NOT NULL,
    PRIMARY KEY (R_REGIONKEY)
);

CREATE TABLE TPCH.NATION (
    N_NATIONKEY INTEGER NOT NULL,
    N_NAME CHAR(25) NOT NULL,
    N_REGIONKEY INTEGER NOT NULL,
    PRIMARY KEY (N_NATIONKEY),
    CONSTRAINT FK_NATION_REGION FOREIGN KEY (N_REGIONKEY)
        REFERENCES TPCH.REGION (R_REGIONKEY)
);

CREATE TABLE TPCH.CUSTOMER (
    C_CUSTKEY BIGINT NOT NULL,
    C_NAME VARCHAR(25) NOT NULL,
    C_NATIONKEY INTEGER NOT NULL,
    C_ACCTBAL DECIMAL(12,2),
    C_MKTSEGMENT CHAR(10),
    PRIMARY KEY (C_CUSTKEY)
);

CREATE TABLE TPCH.SUPPLIER (
    S_SUPPKEY BIGINT NOT NULL,
    S_NAME CHAR(25) NOT NULL,
    S_NATIONKEY INTEGER NOT NULL,
    S_ACCTBAL DECIMAL(12,2),
    PRIMARY KEY (S_SUPPKEY)
);

CREATE TABLE TPCH.PART (
    P_PARTKEY BIGINT NOT NULL,
    P_NAME VARCHAR(55),
    P_BRAND CHAR(10),
    P_TYPE VARCHAR(25),
    P_SIZE INTEGER,
    P_RETAILPRICE DECIMAL(12,2),
    PRIMARY KEY (P_PARTKEY)
);

CREATE TABLE TPCH.LINEITEM (
    L_ORDERKEY BIGINT NOT NULL,
    L_PARTKEY BIGINT NOT NULL,
    L_SUPPKEY BIGINT NOT NULL,
    L_LINENUMBER INTEGER NOT NULL,
    L_QUANTITY DECIMAL(15,2),
    L_EXTENDEDPRICE DECIMAL(15,2),
    L_DISCOUNT DECIMAL(15,2),
    L_TAX DECIMAL(15,2),
    L_RETURNFLAG CHAR(1),
    L_LINESTATUS CHAR(1),
    L_SHIPDATE DATE NOT NULL,
    CONSTRAINT CK_QTY CHECK (L_QUANTITY > 0)
) IN TS_FACTS
PARTITION BY RANGE (L_RETURNFLAG)
    (PARTITION P_A STARTING 'A' ENDING 'M', PARTITION P_N STARTING 'N' ENDING 'Z');

CREATE TABLE APP.EVENTS (
    EVENT_ID BIGINT NOT NULL,
    TS TIMESTAMP(9) NOT NULL,
    USER_ID BIGINT NOT NULL,
    EVENT_TYPE VARCHAR(16),
    VALUE DECIMAL(18,2),
    PROPS CLOB(1M),
    PRIMARY KEY (EVENT_ID)
);

CREATE TABLE APP.DOCUMENTS (
    DOC_ID BIGINT NOT NULL,
    TEXT CLOB(1M),
    LANG CHAR(8),
    SOURCE VARCHAR(64),
    N_CHARS INTEGER,
    PRIMARY KEY (DOC_ID)
);

CREATE TABLE TPCH.ORDERS (
    O_ORDERKEY BIGINT NOT NULL,
    O_CUSTKEY BIGINT NOT NULL,
    O_ORDERSTATUS CHAR(1),
    O_TOTALPRICE DECIMAL(15,2),
    O_ORDERDATE DATE NOT NULL,
    O_ORDERPRIORITY CHAR(15),
    PRIMARY KEY (O_ORDERKEY),
    CONSTRAINT FK_ORDERS_CUSTOMER FOREIGN KEY (O_CUSTKEY)
        REFERENCES TPCH.CUSTOMER (C_CUSTKEY)
);
DISTRIBUTE BY HASH (O_ORDERKEY);
"""

# Parsed-shape expectations: the partitioned and clustered write paths only
# run if the parser carried these keys onto the TableDefs.
EXPECTED_PARTITION = {"LINEITEM": ("RANGE", ["L_RETURNFLAG"])}
EXPECTED_DISTRIBUTE = {"ORDERS": "O_ORDERKEY"}
STAR_TABLES = ("REGION", "NATION", "CUSTOMER", "SUPPLIER", "PART",
               "LINEITEM", "EVENTS", "DOCUMENTS", "ORDERS")


def check_star_tables(tables) -> list[str]:
    """Problems with the parsed star DDL; empty when it parsed as written."""
    problems = []
    names = [t.name for t in tables]
    if sorted(names) != sorted(STAR_TABLES):
        problems.append(f"parsed tables {names} != {list(STAR_TABLES)}")
    for t in tables:
        want = EXPECTED_PARTITION.get(t.name)
        got = (t.partition.kind, t.partition.columns) if t.partition else None
        if got != want:
            problems.append(f"{t.name}: partition {got} != {want}")
        if t.distribute_by_hash != EXPECTED_DISTRIBUTE.get(t.name):
            problems.append(f"{t.name}: distribute_by_hash "
                            f"{t.distribute_by_hash!r} != "
                            f"{EXPECTED_DISTRIBUTE.get(t.name)!r}")
    return problems
