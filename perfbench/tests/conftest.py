def pytest_configure(config):
    config.addinivalue_line(
        "markers", "smoke: starts a Spark JVM and runs a workload end to end"
    )
