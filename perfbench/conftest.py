def pytest_configure(config):
    config.addinivalue_line("markers", "spark: runs the benchmark end to end on a local Spark session")
