import pytest

from adtl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("adtl_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def clinical_study():
    """The benchmark's synthetic clinical-study generator
    (``perfbench/gen.py:clinical_study``), loaded read-only: it writes a
    spec, its schemas and a CSV under a given directory."""
    import importlib.util
    import sys
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "perfbench" / "gen.py"
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    gen = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = gen  # its dataclasses look their module up
    spec.loader.exec_module(gen)
    return gen.clinical_study
