"""PySpark daemon for ``local*`` sessions from ``session.get_spark``: it
installs the ``zipcache`` guard, then runs ``pyspark.daemon``'s loop, so
every worker it forks has the guard, also one that runs only user
closures, which never import this package."""

from pyspark.daemon import manager

from time_series_spark_spark import zipcache

if __name__ == "__main__":
    zipcache.install()
    manager()
