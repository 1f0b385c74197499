import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the benchmark's modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the engine package


def pytest_configure(config):
    config.addinivalue_line("markers", "spark: starts a Spark JVM")
