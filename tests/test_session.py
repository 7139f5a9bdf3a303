"""The JVM options ``get_spark`` sets, computed without starting a JVM."""

from __future__ import annotations

from metadata_ingestion_poc_spark.session import java_options

DRIVER, EXECUTOR = "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"


def test_code_cache_is_appended_to_the_users_jvm_options(tmp_path, monkeypatch):
    """spark-defaults.conf and ``extra_conf`` options are kept, the code
    cache flag is appended, and a value that already sizes the cache
    is left as it is."""
    (tmp_path / "spark-defaults.conf").write_text(
        "# site defaults\n"
        f"{DRIVER}   -Dsite=1 -XX:+UseG1GC\n"
        f"{EXECUTOR}=-Dsite=2\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))

    assert java_options({}, "512m") == {
        DRIVER: "-Dsite=1 -XX:+UseG1GC -XX:ReservedCodeCacheSize=512m",
        EXECUTOR: "-Dsite=2 -XX:ReservedCodeCacheSize=512m",
    }
    got = java_options({EXECUTOR: "-XX:ReservedCodeCacheSize=1g -Dx=y"}, "512m")
    assert got[EXECUTOR] == "-XX:ReservedCodeCacheSize=1g -Dx=y"
    assert got[DRIVER].startswith("-Dsite=1")


def test_code_cache_alone_without_user_options(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))  # no defaults file
    assert java_options({}, "256m") == {
        DRIVER: "-XX:ReservedCodeCacheSize=256m",
        EXECUTOR: "-XX:ReservedCodeCacheSize=256m",
    }
