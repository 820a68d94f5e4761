def pytest_configure(config):
    config.addinivalue_line("markers", "spark: starts Spark (slow)")
