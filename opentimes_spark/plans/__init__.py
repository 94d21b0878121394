"""Plan builders.  Import the module you need: ``plans.queries`` holds
the query registry (``QUERIES``, ``ORACLE_SQL``) and ``plans.pipeline``
the opentimes ETL stages; importing the package loads neither."""
