"""The remote database of the benchmark: an embedded, file-based Apache
Derby database (the Derby jar ships with pyspark) inside the Spark JVM.

The benchmark seeds it through plain JDBC with Derby's bulk import, and
the program reads it only through its own JDBC loaders (the reference's
remote database -> local cache design).
"""

from __future__ import annotations

import os

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

TABLES = {
    "servers": ("ip VARCHAR(64), name VARCHAR(64), location VARCHAR(64)", "servers_csv"),
    "tool_catalog": (
        "tool VARCHAR(64), category VARCHAR(64), owner VARCHAR(64), risk_level INT",
        "tools_csv",
    ),
}


def url(db_path: str) -> str:
    return f"jdbc:derby:{db_path}"


def configure(spark, log_path: str) -> None:
    """Route ``derby.log`` before Derby boots in this JVM."""
    spark._jvm.java.lang.System.setProperty("derby.stream.error.file", log_path)
    spark._jvm.java.lang.Class.forName(DRIVER)


def seed(spark, ds) -> str:
    """Create ``servers`` and ``tool_catalog`` in the data set's Derby
    database from its CSV files (skipped when already seeded)."""
    done = os.path.join(ds.root, "DERBY_SEEDED")
    if os.path.exists(done):
        return url(ds.derby)
    import shutil

    shutil.rmtree(ds.derby, ignore_errors=True)
    conn = spark._jvm.java.sql.DriverManager.getConnection(url(ds.derby) + ";create=true")
    try:
        st = conn.createStatement()
        for table, (cols, csv_attr) in TABLES.items():
            st.execute(f"CREATE TABLE {table} ({cols})")
            st.execute(
                "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '"
                + table.upper() + "', '" + getattr(ds, csv_attr) + "', ',', '\"', 'UTF-8', 0)"
            )
        st.close()
    finally:
        conn.close()
    open(done, "w").close()
    return url(ds.derby)


def shutdown(spark) -> None:
    """Shut the embedded engine down cleanly (Derby signals success with
    an exception)."""
    try:
        spark._jvm.java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    except Exception:  # noqa: BLE001 - XJ015 is the success signal
        pass
