import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
# Python workers import the corpus generators and the program by module path
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT, HERE] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH")
                    else []))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import worker

    spark = worker.build_session(str(tmp_path_factory.mktemp("spark")), 2)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
