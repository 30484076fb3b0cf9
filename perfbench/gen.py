"""Seeded input generator for the engine benchmark.

Every workload's inputs are a pure function of the seed: the same seed
writes byte-identical migration files. Three repositories are made:

- lint: renamed copies of the 27 fixture shapes in fixtures/migrations
  (plus one DO-block shape), each recording the rule ids the analyzer
  must report for it.
- deploy: one-statement migrations valid on embedded Derby that pass
  the danger gate without --force.
- bootstrap: Spark SQL migrations on Hive-metastore tables whose down
  files undo them exactly (Hive tables reject DELETE and DROP COLUMN,
  so no shape relies on either).
"""

import os
import random
import re

# (name, up, down, planted rule ids). Texts are the fixture files
# verbatim; the rule ids are what the analyzer reports for each at
# target PostgreSQL 14 (multiset, in report order).
LINT_SHAPES = [
    ("create_users",
     "CREATE TABLE users (id BIGSERIAL PRIMARY KEY, email TEXT NOT NULL, created_at TIMESTAMPTZ DEFAULT NOW());",
     "DROP TABLE users;", []),
    ("add_email_index", "CREATE INDEX idx_users_email ON users (email);",
     "DROP INDEX idx_users_email;", ["create-index-not-concurrent"]),
    ("add_column_default",
     "ALTER TABLE users ADD COLUMN status TEXT DEFAULT 'active';",
     "ALTER TABLE users DROP COLUMN status;", []),
    ("add_constraint",
     "ALTER TABLE users ADD CONSTRAINT chk_email CHECK (email ~* '^.+@.+$');",
     "ALTER TABLE users DROP CONSTRAINT chk_email;",
     ["add-constraint-without-not-valid"]),
    ("alter_column_type",
     "ALTER TABLE users ALTER COLUMN email TYPE VARCHAR(255);",
     "ALTER TABLE users ALTER COLUMN email TYPE TEXT;", ["alter-column-type"]),
    ("set_not_null", "ALTER TABLE users ALTER COLUMN status SET NOT NULL;",
     "ALTER TABLE users ALTER COLUMN status DROP NOT NULL;", ["set-not-null"]),
    ("drop_table", "DROP TABLE users;",
     "CREATE TABLE users (id BIGSERIAL PRIMARY KEY, email TEXT NOT NULL);",
     ["drop-table"]),
    ("vacuum_full", "VACUUM FULL users;", None, ["vacuum-full"]),
    ("lock_table", "LOCK TABLE users IN ACCESS EXCLUSIVE MODE;", None,
     ["lock-table"]),
    ("rename_column",
     "ALTER TABLE users RENAME COLUMN email TO email_address;",
     "ALTER TABLE users RENAME COLUMN email_address TO email;", ["rename"]),
    ("safe_concurrent_index",
     "CREATE INDEX CONCURRENTLY idx_users_status ON users (status);",
     "DROP INDEX CONCURRENTLY idx_users_status;", []),
    ("safe_add_column", "ALTER TABLE users ADD COLUMN bio TEXT;", None, []),
    ("reindex_table", "REINDEX TABLE users;", None,
     ["reindex-not-concurrent"]),
    ("cluster", "CLUSTER users USING idx_users_email;", None, ["cluster"]),
    ("refresh_matview", "REFRESH MATERIALIZED VIEW user_stats;", None,
     ["refresh-matview-not-concurrent"]),
    ("add_primary_key",
     "ALTER TABLE users ADD CONSTRAINT users_pkey PRIMARY KEY (id);", None,
     ["add-primary-key"]),
    ("detach_partition",
     "ALTER TABLE measurements DETACH PARTITION measurements_2023;", None,
     ["detach-partition-not-concurrent"]),
    ("attach_partition",
     "ALTER TABLE measurements ATTACH PARTITION measurements_2024 FOR VALUES FROM ('2024-01-01') TO ('2025-01-01');",
     None, ["attach-partition-validation"]),
    ("create_trigger",
     "CREATE TRIGGER audit_trg AFTER INSERT ON users FOR EACH ROW EXECUTE FUNCTION audit();",
     None, ["create-trigger"]),
    ("drop_index", "DROP INDEX idx_users_email;", None,
     ["drop-index-not-concurrent"]),
    ("set_unlogged", "ALTER TABLE users SET UNLOGGED;", None,
     ["table-storage-rewrite"]),
    ("add_generated_column",
     "ALTER TABLE users ADD COLUMN display_name text GENERATED ALWAYS AS (coalesce(nickname, full_name)) STORED;",
     "ALTER TABLE users DROP COLUMN display_name;", ["add-generated-column"]),
    ("drop_column", "ALTER TABLE users DROP COLUMN legacy_flags;", None,
     ["drop-column"]),
    ("add_unique_constraint",
     "ALTER TABLE users ADD CONSTRAINT users_email_key UNIQUE (email);",
     "ALTER TABLE users DROP CONSTRAINT users_email_key;",
     ["add-unique-constraint"]),
    ("concurrent_index_backfill",
     "CREATE INDEX CONCURRENTLY idx_users_flags ON users (flags);\n"
     "UPDATE users SET flags = 0 WHERE flags IS NULL;",
     "DROP INDEX CONCURRENTLY idx_users_flags;",
     ["mixed-concurrent-atomicity"]),
    ("legacy_events_table",
     "CREATE TABLE legacy_events (id integer PRIMARY KEY, code char(8), happened_at timestamp NOT NULL, recorded_at timestamp without time zone, archived_at timestamptz, note varchar(40));",
     "DROP TABLE legacy_events;",
     ["prefer-bigint-key", "prefer-timestamptz", "ban-char-field"]),
    ("alter_index_tablespace",
     "ALTER INDEX idx_users_email SET TABLESPACE fastspace;", None,
     ["unclassified-alter"]),
    ("do_block_backfill",
     "DO $$\nBEGIN\n  UPDATE users SET status = 'active' WHERE status IS NULL;\nEND\n$$;",
     None, ["opaque-do-block"]),
]

# Identifiers the shapes use; each copy renames all of them with one
# per-migration suffix so no two migrations name the same object.
_IDENTS = re.compile(
    r"\b(users|measurements|measurements_2023|measurements_2024|user_stats|"
    r"legacy_events|idx_users_email|idx_users_status|idx_users_flags|"
    r"chk_email|users_pkey|users_email_key|audit_trg|fastspace)\b")

LINT_MIGRATIONS = 300
DEPLOY_APPLIED = 6
DEPLOY_PENDING = 3
BOOTSTRAP_MIGRATIONS = 6
BOOTSTRAP_ROLLBACK = 2


def _tag(rng):
    return "%06x" % rng.getrandbits(24)


def lint(seed, n=LINT_MIGRATIONS):
    """Returns (files, planted): files maps file name to text; planted
    maps version to the rule ids the analyzer must report."""
    rng = random.Random(seed)
    files, planted = {}, {}
    order = [LINT_SHAPES[i % len(LINT_SHAPES)] for i in range(n)]
    rng.shuffle(order)
    for i, (name, up, down, rules) in enumerate(order, start=1):
        tag = _tag(rng)
        ren = lambda sql: _IDENTS.sub(lambda m: "%s_%s" % (m.group(1), tag),
                                      sql)
        version = "%04d" % i
        stem = "V%s_%s_%s" % (version, name, tag)
        files[stem + ".up.sql"] = ren(up) + "\n"
        if down is not None:
            files[stem + ".down.sql"] = ren(down) + "\n"
        planted[version] = list(rules)
    return files, planted


def _ops(rng, n, create_weight, steps):
    """Version-ordered (name, up, down) triples from `steps`: a dict of
    shape -> function(rng, table, k) -> (up, down). 'create' makes a new
    table; the others act on an earlier table."""
    out, tables = [], []
    for i in range(1, n + 1):
        k = "%s%d" % (_tag(rng), i)
        if not tables or rng.random() < create_weight:
            t = "t_" + k
            tables.append(t)
            shape = "create"
        else:
            t = rng.choice(tables)
            shape = rng.choice(sorted(s for s in steps if s != "create"))
        up, down = steps[shape](rng, t, k)
        out.append(("V%04d_%s_%s" % (i, shape, k), up, down))
    return out


# Derby: one statement per file, no trailing semicolon.
_DERBY = {
    "create": lambda r, t, k: (
        "CREATE TABLE %s (id BIGINT NOT NULL, note VARCHAR(64))" % t,
        "DROP TABLE %s" % t),
    "add_column": lambda r, t, k: (
        "ALTER TABLE %s ADD COLUMN c_%s VARCHAR(32)" % (t, k),
        "ALTER TABLE %s DROP COLUMN c_%s" % (t, k)),
    "insert": lambda r, t, k: (
        "INSERT INTO %s (id, note) VALUES (%d, 'n_%s')"
        % (t, r.randrange(1, 10 ** 9), k),
        "DELETE FROM %s WHERE note = 'n_%s'" % (t, k)),
    "view": lambda r, t, k: (
        "CREATE VIEW v_%s AS SELECT id, note FROM %s" % (k, t),
        "DROP VIEW v_%s" % k),
}

# Spark SQL on Hive-metastore parquet tables.
_SPARK = {
    "create": lambda r, t, k: (
        "CREATE TABLE %s (id BIGINT, note STRING) USING parquet;" % t,
        "DROP TABLE %s;" % t),
    "seeded": lambda r, t, k: (
        "CREATE TABLE s_%s (id BIGINT, note STRING) USING parquet;\n"
        "INSERT INTO s_%s SELECT id, note FROM %s;" % (k, k, t),
        "DROP TABLE s_%s;" % k),
    "view": lambda r, t, k: (
        "CREATE VIEW v_%s AS SELECT id, note FROM %s;" % (k, t),
        "DROP VIEW v_%s;" % k),
    "properties": lambda r, t, k: (
        "ALTER TABLE %s SET TBLPROPERTIES ('graft.owner_%s' = 'bench');"
        % (t, k),
        "ALTER TABLE %s UNSET TBLPROPERTIES ('graft.owner_%s');" % (t, k)),
}


def deploy(seed, n=DEPLOY_APPLIED + DEPLOY_PENDING):
    return _ops(random.Random(seed), n, 0.3, _DERBY)


def bootstrap(seed, n=BOOTSTRAP_MIGRATIONS):
    return _ops(random.Random(seed), n, 0.4, _SPARK)


def files_of(ops):
    files = {}
    for stem, up, down in ops:
        files[stem + ".up.sql"] = up + "\n"
        files[stem + ".down.sql"] = down + "\n"
    return files


def write(directory, files):
    os.makedirs(directory, exist_ok=True)
    for name, text in files.items():
        with open(os.path.join(directory, name), "w", encoding="utf-8") as f:
            f.write(text)
