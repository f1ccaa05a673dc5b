package graft.config

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.model.EventBounds
import graft.plans.WindowNode

/** The trigger event config. (reference: src/aces/config.py:841-856) */
final case class TriggerDef(predicate: String)

/** A full task-extraction configuration: predicates, trigger, windows.
  *
  * (reference: src/aces/config.py:858-1692 `TaskExtractorConfig`)
  * Validation and window-tree construction port `_initialize_predicates`
  * (:1421-1482) and `_initialize_windows` (:1484-1666).
  */
final case class TaskConfig(
    predicates: Map[String, PredicateDef],
    trigger: TriggerDef,
    windows: Seq[(String, WindowDef)]
) {
  import TaskConfig._

  // --- predicate validation + DAG (reference: config.py:1444-1482) ---------
  {
    predicates.keys.foreach { name =>
      require(
        name.matches("^\\w+$"),
        s"Predicate name '$name' is invalid; must be composed of alphanumeric or '_' characters.")
    }
    val missing = predicates.collect { case (n, d: DerivedPredicateDef) =>
      d.inputPredicates.filterNot(predicates.contains).map(p =>
        s"Derived predicate '$n' references undefined predicate '$p'")
    }.flatten
    require(missing.isEmpty, s"Missing ${missing.size} relationships: ${missing.mkString("; ")}")
  }

  /** Derived predicates in dependency (topological) order.
    * (reference: config.py:1685-1692, networkx topo sort → Kahn's algorithm)
    */
  val derivedPredicatesInOrder: Seq[(String, DerivedPredicateDef)] = {
    val derived = predicates.collect { case (n, d: DerivedPredicateDef) => n -> d }
    val inDeg = mutable.Map[String, Int]().withDefaultValue(0)
    val dependents = mutable.Map[String, List[String]]().withDefaultValue(Nil)
    derived.foreach { case (n, d) =>
      d.inputPredicates.filter(derived.contains).foreach { dep =>
        inDeg(n) += 1
        dependents(dep) ::= n
      }
    }
    val queue = mutable.Queue(derived.keys.filter(inDeg(_) == 0).toSeq.sorted: _*)
    val order = mutable.ListBuffer[String]()
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      order += n
      dependents(n).foreach { m =>
        inDeg(m) -= 1
        if (inDeg(m) == 0) queue.enqueue(m)
      }
    }
    require(
      order.size == derived.size,
      s"Predicate graph is not a directed acyclic graph! Unresolved: " +
        derived.keySet.diff(order.toSet).mkString(", "))
    order.map(n => n -> derived(n)).toSeq
  }

  def plainPredicates: Map[String, PlainPredicateDef] =
    predicates.collect { case (n, p: PlainPredicateDef) => n -> p }

  // --- label / index-timestamp windows (reference: config.py:1533-1562) ----
  val labelWindow: Option[String] = {
    val ls = windows.collect { case (n, w) if w.label.nonEmpty => n }
    require(ls.size <= 1, s"Only one window can be labeled, found ${ls.size} labeled windows: ${ls.mkString(", ")}")
    windows.foreach { case (n, w) =>
      w.label.foreach(l =>
        require(predicates.contains(l), s"Label must be one of the defined predicates. Got: $l for window '$n'"))
    }
    ls.headOption
  }
  val indexTimestampWindow: Option[String] = {
    windows.foreach { case (n, w) =>
      w.indexTimestamp.foreach(it =>
        require(Set("start", "end").contains(it),
          s"Index timestamp must be either 'start' or 'end'. Got: $it for window '$n'"))
    }
    val is = windows.collect { case (n, w) if w.indexTimestamp.nonEmpty => n }
    require(
      is.size <= 1,
      "Only the 'start'/'end' of one window can be used as the index timestamp, found " +
        s"${is.size} windows with index_timestamp: ${is.mkString(", ")}")
    is.headOption
  }

  {
    val special = Set(EventBounds.AnyEvent, EventBounds.StartOfRecord, EventBounds.EndOfRecord)
    require(
      predicates.contains(trigger.predicate) || special.contains(trigger.predicate),
      s"Trigger event predicate '${trigger.predicate}' not found in predicates: " +
        predicates.keys.mkString(", "))
    windows.foreach { case (name, w) =>
      require(name.matches("^\\w+$"),
        s"Window name '$name' is invalid; must be composed of alphanumeric or '_' characters.")
      (w.referencedPredicates - EventBounds.AnyEvent).foreach { p =>
        require(predicates.contains(p),
          s"Window '$name' references undefined predicate '$p'. " +
            s"Window predicates: ${w.referencedPredicates.mkString(", ")}; " +
            s"Defined predicates: ${predicates.keys.mkString(", ")}")
      }
    }
  }

  /** The window tree rooted at the trigger, with no-op boundary nodes
    * pruned. (reference: config.py:1574-1666)
    */
  lazy val windowTree: WindowNode = {
    val nodes = mutable.LinkedHashMap[String, MutNode]("trigger" -> new MutNode("trigger", None))

    windows.foreach { case (name, w) =>
      val startNode = new MutNode(s"$name.start", w.startEndpointExpr)
      val endNode = new MutNode(s"$name.end", w.endEndpointExpr)
      if (w.rootNode == "end") {
        startNode.constraints = w.has
        startNode.parent = Some(endNode)
      } else {
        endNode.constraints = w.has
        endNode.parent = Some(startNode)
      }
      nodes(s"$name.start") = startNode
      nodes(s"$name.end") = endNode
    }

    windows.foreach { case (name, w) =>
      val parentKey = w.referencedEvent match {
        case Seq("trigger") => "trigger"
        case Seq(other) =>
          throw new IllegalArgumentException(
            s"Window '$name' references undefined trigger event '$other' -- must be trigger!")
        case Seq(refWin, refEvt) =>
          require(windows.exists(_._1 == refWin),
            s"Window '$name' references undefined window '$refWin' for event '$refEvt'. " +
              s"Allowed windows: ${windows.map(_._1).mkString(", ")}")
          s"$refWin.$refEvt"
        case other =>
          throw new IllegalArgumentException(s"Window '$name' references invalid event '$other'")
      }
      nodes(s"$name.${w.rootNode}").parent = Some(nodes(parentKey))
    }

    // Wire children from parents.
    nodes.values.foreach { n => n.parent.foreach(_.children += n) }

    // Prune no-op nodes (endpoint None), reattaching children.
    // (reference: config.py:1642-1664)
    nodes.values.filter(n => n.name != "trigger" && n.endpoint.isEmpty).foreach { n =>
      n.children.foreach { c =>
        c.parent = n.parent
        n.parent.foreach(p => if (!p.children.contains(c)) p.children += c)
      }
      n.parent.foreach(p => p.children --= Seq(n))
    }

    nodes("trigger").freeze
  }

  /** Pre-order walk of window-node names (excluding the trigger root) —
    * the result column order. (reference: query.py:155-159)
    */
  def preorderWindowNames: Seq[String] = {
    def walk(n: WindowNode): Seq[String] = n.name +: n.children.flatMap(walk)
    walk(windowTree).drop(1)
  }
}

object TaskConfig {

  private[config] class MutNode(val name: String, val endpoint: Option[graft.model.EndpointBounds]) {
    var constraints: Map[String, graft.operators.Constraints.Range] = Map.empty
    var parent: Option[MutNode] = None
    val children: mutable.Buffer[MutNode] = mutable.Buffer.empty
    def freeze: WindowNode = WindowNode(name, endpoint, constraints, children.map(_.freeze).toSeq)
  }

  /** Load a task config from YAML text, with an optional predicates-override
    * YAML (its `predicates` / `patient_demographics` take precedence).
    * Prunes predicates not transitively referenced by windows/trigger/label.
    * (reference: config.py:1100-1419 `TaskExtractorConfig.load`)
    */
  /** OmegaConf-style dotted overrides into a task-config YAML (reference:
    * run.py:120-121 — Hydra merges arbitrary `a.b.c=value` CLI overrides
    * into the loaded task config, e.g. `windows.target.end=start+36h` or
    * `trigger=discharge`). Values are parsed as YAML scalars, so
    * `windows.gap.end_inclusive=False` arrives as a boolean and numeric
    * constraints as numbers. Intermediate mappings are created when
    * absent (Hydra's merge semantics); traversing through a scalar fails
    * loud. Returns the merged YAML text — feed it to [[fromYaml]], whose
    * unknown-top-key validation still rejects typo'd roots.
    *
    * Values come straight from argv, so they are parsed with a
    * [[safeYaml]] (standard scalars/collections only — no tagged object
    * instantiation), and surrounding quotes force a string (OmegaConf's
    * CLI grammar): `code=on` is YAML-1.1-coerced to a boolean, but
    * `code='on'` / `code="on"` stays the string `on`.
    */
  def applyOverrides(configYaml: String, overrides: Seq[(String, String)]): String = {
    val yaml = safeYaml()
    val root = yaml.load[java.util.Map[String, Object]](configYaml)
    require(root != null, "Cannot apply overrides to an empty configuration")
    overrides.foreach { case (path, value) =>
      val parts = path.split("\\.")
      var node = root
      parts.dropRight(1).foreach { p =>
        node.get(p) match {
          case m: java.util.Map[_, _] =>
            node = m.asInstanceOf[java.util.Map[String, Object]]
          case null =>
            val m = new java.util.LinkedHashMap[String, Object]()
            node.put(p, m)
            node = m
          case other =>
            throw new IllegalArgumentException(
              s"Override '$path=$value' traverses '$p', which is a " +
                s"${other.getClass.getSimpleName}, not a mapping.")
        }
      }
      node.put(parts.last, parseOverrideValue(value, yaml))
    }
    yaml.dump(root)
  }

  /** One CLI override value: surrounding single or double quotes force a
    * verbatim string (no YAML scalar resolution — the only way to pass
    * `on`, `08:30`, or `1e3` AS TEXT from argv); anything else goes
    * through safe YAML scalar parsing.
    */
  private def parseOverrideValue(value: String, yaml: org.yaml.snakeyaml.Yaml): Object = {
    val quoted = value.length >= 2 &&
      ((value.head == '"' && value.last == '"') ||
        (value.head == '\'' && value.last == '\''))
    if (quoted) value.substring(1, value.length - 1)
    else yaml.load[Object](value)
  }

  /** SnakeYAML with the SafeConstructor: standard YAML types only, so a
    * value arriving from argv (or a config file) can never instantiate an
    * arbitrary tagged Java object.
    */
  private def safeYaml(): org.yaml.snakeyaml.Yaml = {
    import org.yaml.snakeyaml.{LoaderOptions, Yaml}
    import org.yaml.snakeyaml.constructor.SafeConstructor
    import org.yaml.snakeyaml.representer.Representer
    import org.yaml.snakeyaml.DumperOptions
    val dumper = new DumperOptions()
    new Yaml(new SafeConstructor(new LoaderOptions()), new Representer(dumper), dumper)
  }

  def fromYaml(configYaml: String, predicatesYaml: Option[String] = None): TaskConfig = {
    val root = parseYamlMap(configYaml, "configuration")
    val overrideRoot = predicatesYaml.map(parseYamlMap(_, "predicates"))

    def section(m: Map[String, Any], key: String): Map[String, Any] =
      m.get(key).map(asMap).getOrElse(Map.empty)

    val basePreds = section(root, "predicates")
    val baseDemo = section(root, "patient_demographics")
    val overPreds = overrideRoot.map(section(_, "predicates")).getOrElse(Map.empty)
    val overDemo = overrideRoot.map(section(_, "patient_demographics")).getOrElse(Map.empty)

    val knownTop = Set("metadata", "description", "predicates", "patient_demographics", "trigger", "windows")
    val unknown = root.keySet -- knownTop
    require(unknown.isEmpty, s"Unrecognized keys in configuration file: '${unknown.mkString(", ")}'")

    val finalPredicates = basePreds ++ overPreds
    val finalDemographics = baseDemo ++ overDemo
    val allPredicates = finalPredicates ++ finalDemographics

    val triggerName = root.getOrElse("trigger",
      throw new IllegalArgumentException("Missing 'trigger' in configuration")).toString

    val windows: Seq[(String, WindowDef)] = root.get("windows") match {
      case None | Some(null) => Seq.empty
      case Some(w) =>
        asMap(w).toSeq.map { case (name, raw) => name -> parseWindow(name, asMap(raw)) }
    }

    // Transitive closure of referenced predicates (reference: config.py:1356-1396).
    val special = Set(EventBounds.AnyEvent, EventBounds.StartOfRecord, EventBounds.EndOfRecord)
    val referenced = mutable.Set[String]()
    referenced ++= windows.flatMap(_._2.referencedPredicates)
    referenced += triggerName
    referenced ++= windows.flatMap(_._2.label)

    (referenced.toSet -- special).foreach { p =>
      val defn = allPredicates.getOrElse(p,
        throw new NoSuchElementException(
          s"Something referenced predicate '$p' that wasn't defined in the configuration."))
      if (asMap(defn).contains("expr")) {
        val stack = mutable.Stack[String](
          DerivedPredicateDef(asMap(defn)("expr").toString).inputPredicates: _*)
        while (stack.nonEmpty) {
          val nested = stack.pop()
          val nd = allPredicates.getOrElse(nested,
            throw new NoSuchElementException(
              s"Predicate '$nested' referenced in '$p' is not defined in the configuration."))
          referenced += nested
          if (asMap(nd).contains("expr"))
            stack.pushAll(DerivedPredicateDef(asMap(nd)("expr").toString).inputPredicates)
        }
      }
    }

    val predicateObjs: Map[String, PredicateDef] = scala.collection.immutable.ListMap(
      (finalPredicates.toSeq.collect { case (n, raw) if referenced.contains(n) =>
        n -> parsePredicate(n, raw, static = false)
      } ++ finalDemographics.toSeq.map { case (n, raw) =>
        n -> parsePredicate(n, raw, static = true)
      }): _*)

    TaskConfig(predicateObjs, TriggerDef(triggerName), windows)
  }

  // ListMap-backed to preserve YAML insertion order — predicate column
  // order must be deterministic (struct field order, output parity).
  private def orderedMap(entries: Iterable[(String, Any)]): Map[String, Any] =
    scala.collection.immutable.ListMap(entries.toSeq: _*)

  private def parseYamlMap(text: String, what: String): Map[String, Any] = {
    val yaml = safeYaml()
    Option(yaml.load[Any](text)) match {
      case Some(m: java.util.Map[_, _]) =>
        orderedMap(m.asScala.map { case (k, v) => k.toString -> v })
      case other => throw new IllegalArgumentException(s"Invalid $what YAML: $other")
    }
  }

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: java.util.Map[_, _] => orderedMap(m.asScala.map { case (k, x) => k.toString -> x })
    case m: Map[_, _]           => orderedMap(m.toSeq.map { case (k, x) => k.toString -> x })
    case other =>
      throw new IllegalArgumentException(
        s"Predicate is not defined correctly in the configuration file. " +
          s"Currently defined as the string: $other. " +
          "Please refer to the documentation for the supported formats.")
  }

  private def parsePredicate(name: String, raw: Any, static: Boolean): PredicateDef = {
    raw match {
      case s: String =>
        throw new IllegalArgumentException(
          s"Predicate '$name' is not defined correctly in the configuration file. " +
            s"Currently defined as the string: $s. " +
            "Please refer to the documentation for the supported formats.")
      case _ =>
    }
    val m = asMap(raw)
    if (m.contains("expr")) DerivedPredicateDef(m("expr").toString, static)
    else {
      val known = Set("code", "value_min", "value_max", "value_min_inclusive",
        "value_max_inclusive", "static", "other_cols")
      val code = m.getOrElse("code",
        throw new IllegalArgumentException(s"Predicate '$name' lacks 'code'")) match {
        case cm: java.util.Map[_, _] =>
          val c = cm.asScala.map { case (k, v) => k.toString -> v }.toMap
          require(c.size == 1,
            s"Only one of 'regex' or 'any' can be specified in the code field! Got: ${c.keys.toList}.")
          c.head match {
            case ("regex", re) => CodeRegex(Option(re).map(_.toString).getOrElse(""))
            case ("any", vs: java.util.List[_]) => CodeAnyOf(vs.asScala.map(_.toString).toSeq)
            case (k, v) =>
              throw new IllegalArgumentException(
                s"Invalid specification in the code field! Got: {$k: $v}. Expected one of 'regex', 'any'.")
          }
        case s => CodeEq(s.toString)
      }
      def dbl(k: String): Option[Double] = m.get(k).collect {
        case n: Number => n.doubleValue()
        case s: String => s.toDouble
      }
      def bool(k: String): Boolean = m.get(k).exists {
        case b: java.lang.Boolean => b.booleanValue()
        case s: String            => s.toBoolean
        case _                    => false
      }
      val otherCols = (m -- known).map { case (k, v) => k -> v.toString }
      PlainPredicateDef(
        code,
        dbl("value_min"),
        dbl("value_max"),
        bool("value_min_inclusive"),
        bool("value_max_inclusive"),
        static = static || bool("static"),
        otherCols = otherCols)
    }
  }

  private def parseWindow(name: String, m: Map[String, Any]): WindowDef = {
    def strOpt(k: String): Option[String] = m.get(k) match {
      case None | Some(null) => None
      case Some(v) =>
        val s = v.toString
        if (s.equalsIgnoreCase("null") || s.equalsIgnoreCase("none")) None else Some(s)
    }
    def bool(k: String): Boolean = m.get(k) match {
      case Some(b: java.lang.Boolean) => b.booleanValue()
      case Some(s: String)            => s.toBoolean
      case _ => throw new IllegalArgumentException(s"Window '$name' missing boolean '$k'")
    }
    val has: Map[String, graft.operators.Constraints.Range] = m.get("has") match {
      case None | Some(null) => Map.empty
      case Some(h) =>
        asMap(h).map { case (p, c) => p -> WindowDef.parseConstraint(p, c.toString) }
    }
    WindowDef(
      strOpt("start"),
      strOpt("end"),
      bool("start_inclusive"),
      bool("end_inclusive"),
      has,
      strOpt("label"),
      strOpt("index_timestamp"))
  }
}
