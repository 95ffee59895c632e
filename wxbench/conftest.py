def pytest_configure(config):
    config.addinivalue_line("markers", "slow: starts a Spark application")
