import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from unraveldocs_spark.session import build_session

    warehouse = tempfile.mkdtemp(prefix="unraveldocs-warehouse-")
    spark = build_session(
        app_name="unraveldocs-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture
def patch_materialize(monkeypatch):
    """``patch(fn)`` puts ``fn`` in place of ``scanfan.materialize`` in
    every package module that binds it (query modules import it by
    name) and returns the real primitive — the one seam for tests that
    watch or remove the plan barriers."""
    import importlib
    import pkgutil

    import unraveldocs_spark
    from unraveldocs_spark import scanfan

    real = scanfan.materialize

    def patch(fn):
        for info in pkgutil.iter_modules(unraveldocs_spark.__path__):
            mod = importlib.import_module(f"unraveldocs_spark.{info.name}")
            if getattr(mod, "materialize", None) is real:
                monkeypatch.setattr(mod, "materialize", fn)
        return real

    return patch
